package graft.operators

/** Time-series diagnostics, forecasting and calendar keys.
  * REGISTRY.md maps each key to its file:line.
  */
object TimeSeries {
  import graft.{Decl, Tables, declMap}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  private val Alpha = 0.3
  private val Beta = 0.1
  private val Gamma = 0.2

  /** ln as a SQL-literal string (round-trips exactly as a double). */
  private def lgs(x: Double): String = math.log(x).toString

  /** Croston smoothing constant and its EXACT-double complement —
    * 1 − 0.2 in IEEE is NOT the 0.8 literal, so both engines consume
    * the same interpolated values. */
  private val A = 0.2
  private val B = 1 - A

  /** ln(2/0.05) = ln(40), as one literal for BOTH engines. */
  private val Ln40 = 3.6888794541139363

  private def dailyCents(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(sum(round(col("value") * 100).cast("bigint")).as("v"))

  // smoothing constants — ONE Scala literal each, interpolated into
  // BOTH engines (1−k precomputed too, so neither engine derives it)
  private val W13 = 13.0 / 14.0   // Wilder keep-weight
  private val W1  = 1.0 / 14.0    // Wilder new-weight
  private val K12 = 2.0 / 13.0
  private val J12 = 1 - K12
  private val K26 = 2.0 / 27.0
  private val J26 = 1 - K26
  private val K9  = 2.0 / 10.0
  private val J9  = 1 - K9

  private def dailyClose(s: org.apache.spark.sql.SparkSession,
                         d: String): Array[Long] = {
    val m = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(sum(round(col("value") * 100).cast("bigint")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 30).map(t => m.getOrElse(t.toLong, 0L)).toArray
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def dailyRevenue(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "orders")
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
                    "div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
             .as("cents"))

  val decls: Map[String, Decl] = declMap(
    // Behavioral/time-series analytics that round out
    // the events-table family — per-user event-mix entropy, order→ship
    // latency distribution, day-of-week×hour traffic profile, hour-over-hour
    // spike detection, and per-type burstiness (Fano factor). All follow the
    // repo's determinism discipline: counts stay BIGINT end-to-end, the only
    // floats are terminal `round(x, 6)` of logs/ratios over SMALL per-group
    // term counts (≤5 summands — the agg_mutual_info precedent, where both
    // engines' libm agree at 6 dp), and every ORDER BY ends in a unique key.
    //
    // 100 TB notes: every key here is one shuffle on its natural group key
    // (user_id / event_type / bucket) with partial aggregation upstream; the
    // spike window partitions by event_type but orders a BOUNDED per-type
    // hour spine (the aggregate runs first — the window sees hours, not
    // events), so no whole-history single-task funnel exists.

    // Per-user Shannon entropy (bits) of the event-type mix — the
    // engagement-diversity score. Counts aggregate first (one shuffle,
    // map-side combine); the entropy sum has ≤5 terms per user, each
    // log2 of an exact rational c/n.
    "agg_entropy_bygroup" -> Decl(
      (s, d) => {
        val c = Tables.events(s, d)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        c.withColumn("n",
            sum(col("c")).over(Window.partitionBy("user_id")).cast("double"))
          .groupBy("user_id")
          .agg(sum(col("c")).as("n_events"),
               round(-sum((col("c") / col("n")) * log2(col("c") / col("n"))), 6)
                 .as("entropy_bits"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS c
             |           FROM events GROUP BY user_id, event_type),
             |n AS (SELECT user_id, c,
             |        CAST(sum(c) OVER (PARTITION BY user_id) AS DOUBLE) AS n
             |      FROM c)
             |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
             |       round(-sum((c / n) * log2(c / n)), 6) AS entropy_bits
             |FROM n GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Order→first-ship latency histogram: per order, days from order date
    // to its EARLIEST lineitem ship date, bucketed to weeks. The per-order
    // min is one shuffle on the already-grouped fact key; the histogram is
    // a second bounded-key aggregate. Exact integer day arithmetic.
    "ts_order_latency_hist" -> Decl(
      (s, d) => {
        Tables(s, d, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("first_ship"))
          .join(Tables(s, d, "orders"),
                col("l_orderkey") === col("o_orderkey"))
          .select(datediff(col("first_ship").cast("date"),
                           col("o_orderdate").cast("date")).as("lat_days"))
          .groupBy(floor(col("lat_days").cast("double") / 7.0d)
                     .cast("bigint").as("lat_week"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("lat_week")
      },
      // Latencies go NEGATIVE in this synthetic data (ship dates are not
      // causally after order dates), so the bucketing must FLOOR on both
      // sides — Spark's bigint `/` truncates toward zero and would
      // disagree on every negative week; `floor(days/7.0)` here matches
      // DuckDB's floor-division `//` exactly (|days| < 2^40, where double
      // division of integers is exact enough that floor cannot straddle).
      Some("""WITH f AS (SELECT l_orderkey, min(l_shipdate) AS first_ship
             |           FROM lineitem GROUP BY l_orderkey)
             |SELECT CAST(floor(date_diff('day', CAST(o_orderdate AS DATE),
             |                      CAST(first_ship AS DATE)) / 7.0) AS BIGINT)
             |         AS lat_week,
             |       CAST(count(*) AS BIGINT) AS n_orders
             |FROM f JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY lat_week""".stripMargin)),

    // Day-of-week × hour-band traffic profile — the capacity-planning
    // heatmap. ISO weekday (Mon=1) and 6-hour band are exact integer
    // functions of the UTC timestamp; one bounded-key (7×4) aggregate.
    "ts_dow_hour_profile" -> Decl(
      (s, d) => {
        Tables.events(s, d)
          .select((weekday(col("ts")) + lit(1)).cast("bigint").as("iso_dow"),
                  (hour(col("ts")).cast("bigint") / 6L).cast("bigint").as("band6h"),
                  col("value"))
          .groupBy("iso_dow", "band6h")
          .agg(count(lit(1)).as("n_events"),
               sum(round(col("value") * 100).cast("bigint")).as("value_cents"))
          .orderBy("iso_dow", "band6h")
      },
      Some("""SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
             |       CAST(hour(ts) // 6 AS BIGINT) AS band6h,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |         AS value_cents
             |FROM events GROUP BY 1, 2 ORDER BY iso_dow, band6h""".stripMargin)),

    // Hour-over-hour spike detector: per event type, hours whose count
    // exceeds 3× the previous observed hour (integer compare, no float
    // ratio). The lag window runs over the per-type HOUR SPINE (bounded:
    // the aggregate collapses events first), so a hot type costs one
    // small-partition window, never a whole-history funnel.
    "window_anomaly_spike" -> Decl(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
                   expr("unix_micros(ts) div 3600000000L").as("hr"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("event_type").orderBy("hr")
        hourly
          .withColumn("prev_c", lag(col("c"), 1).over(w))
          .filter(col("prev_c").isNotNull && col("c") > lit(3L) * col("prev_c"))
          .select(col("event_type"), col("hr"), col("c"), col("prev_c"))
          .orderBy("event_type", "hr")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |lagd AS (SELECT event_type, hr, c,
             |           lag(c) OVER (PARTITION BY event_type ORDER BY hr)
             |             AS prev_c
             |         FROM hourly)
             |SELECT event_type, hr, CAST(c AS BIGINT) AS c,
             |       CAST(prev_c AS BIGINT) AS prev_c
             |FROM lagd WHERE prev_c IS NOT NULL AND c > 3 * prev_c
             |ORDER BY event_type, hr""".stripMargin)),

    // Burstiness (Fano factor) of hourly arrival counts per event type:
    // variance/mean of the per-hour counts, carried as exact integer
    // sufficient statistics (n, Σc, Σc²) to one terminal rounded float —
    // the agg_anova_f machinery pointed at arrival processes. Fano ≈ 1 is
    // Poisson; > 1 is bursty.
    "ts_burstiness_fano" -> Decl(
      (s, d) => {
        Tables.events(s, d)
          .groupBy(col("event_type"),
                   expr("unix_micros(ts) div 3600000000L").as("hr"))
          .agg(count(lit(1)).as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"),
               sum(col("c")).as("sum_c"),
               sum(col("c") * col("c")).as("sum_c2"))
          .select(col("event_type"), col("n_hours"), col("sum_c"),
                  round((col("sum_c2").cast("double") * col("n_hours")
                          - col("sum_c").cast("double") * col("sum_c"))
                        / (col("n_hours").cast("double") * col("sum_c")), 6)
                    .as("fano"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |s AS (SELECT event_type, count(*) AS n_hours,
             |        sum(c) AS sum_c, sum(c * c) AS sum_c2
             |      FROM hourly GROUP BY event_type)
             |SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
             |       CAST(sum_c AS BIGINT) AS sum_c,
             |       round((CAST(sum_c2 AS DOUBLE) * n_hours
             |               - CAST(sum_c AS DOUBLE) * sum_c)
             |             / (CAST(n_hours AS DOUBLE) * sum_c), 6) AS fano
             |FROM s ORDER BY event_type""".stripMargin)),

    // IPv4 mint-and-parse: a deterministic synthetic address per order
    // (octets from key arithmetic), re-parsed into octets, numeric form,
    // and /24 network — the log-enrichment scalar family. Pure per-row
    // integer/string work riding the scan.
    "scalar_ipv4_parse" -> Decl(
      (s, d) => {
        Tables(s, d, "orders")
          .select(col("o_orderkey"),
                  concat_ws(".",
                    (lit(10L) + col("o_orderkey") % 200L).cast("string"),
                    ((col("o_orderkey") * 7L) % 256L).cast("string"),
                    ((col("o_orderkey") * 13L) % 256L).cast("string"),
                    ((col("o_orderkey") * 31L) % 256L).cast("string"))
                    .as("ip"))
          .withColumn("o1", split(col("ip"), "\\.").getItem(0).cast("bigint"))
          .withColumn("o2", split(col("ip"), "\\.").getItem(1).cast("bigint"))
          .withColumn("o3", split(col("ip"), "\\.").getItem(2).cast("bigint"))
          .withColumn("o4", split(col("ip"), "\\.").getItem(3).cast("bigint"))
          .select(col("o_orderkey"), col("ip"),
                  (col("o1") * 16777216L + col("o2") * 65536L
                    + col("o3") * 256L + col("o4")).as("ip_num"),
                  concat_ws(".", col("o1").cast("string"),
                            col("o2").cast("string"),
                            col("o3").cast("string"), lit("0"))
                    .as("net24"))
          .orderBy("o_orderkey")
      },
      Some("""WITH a AS (SELECT o_orderkey,
             |    CAST(10 + o_orderkey % 200 AS VARCHAR) || '.' ||
             |    CAST((o_orderkey * 7) % 256 AS VARCHAR) || '.' ||
             |    CAST((o_orderkey * 13) % 256 AS VARCHAR) || '.' ||
             |    CAST((o_orderkey * 31) % 256 AS VARCHAR) AS ip
             |  FROM orders),
             |p AS (SELECT o_orderkey, ip,
             |    CAST(string_split(ip, '.')[1] AS BIGINT) AS o1,
             |    CAST(string_split(ip, '.')[2] AS BIGINT) AS o2,
             |    CAST(string_split(ip, '.')[3] AS BIGINT) AS o3,
             |    CAST(string_split(ip, '.')[4] AS BIGINT) AS o4
             |  FROM a)
             |SELECT o_orderkey, ip,
             |       o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num,
             |       CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.' ||
             |       CAST(o3 AS VARCHAR) || '.0' AS net24
             |FROM p ORDER BY o_orderkey""".stripMargin)),

    // Trading-day adjustment and consecutive-day
    // streaks (the date-minus-rank idiom).

    // Calendar (trading-day) adjustment of daily order revenue: each
    // day's cents divided by its weekday's seasonal factor
    // (dow mean / overall mean). Exact cross-multiply clears both means:
    // adjusted = cents · total_cents / (n_days_total · dow_cents / n_dow)
    //          = cents · dow_n · total / (dow_cents · n_days) — all
    // BIGINT until one terminal rounded division.
    "ts_calendar_adjust" -> Decl(
      (s, d) => {
        val daily = Tables(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
          .withColumn("dow", (weekday(col("day")) + 1).cast("bigint"))
        val dowStats = daily.groupBy("dow")
          .agg(count(lit(1)).as("dow_n"), sum(col("cents")).as("dow_cents"))
        val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("cents")).as("total"))
        daily.join(broadcast(dowStats), "dow").crossJoin(broadcast(tot))
          .select(col("day"), col("dow"), col("cents"),
                  round((col("cents") * col("dow_n")).cast("double") * col("total")
                        / (col("dow_cents") * col("n_days")).cast("double"), 2)
                    .as("adjusted_cents"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
             |         CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow
             |  FROM orders GROUP BY 1, 3),
             |ds AS (SELECT dow, count(*) AS dow_n, sum(cents) AS dow_cents
             |       FROM daily GROUP BY dow),
             |t AS (SELECT count(*) AS n_days, sum(cents) AS total FROM daily)
             |SELECT day, dow, CAST(cents AS BIGINT) AS cents,
             |       round(CAST(cents * dow_n AS DOUBLE) * total
             |             / CAST(dow_cents * n_days AS DOUBLE), 2) AS adjusted_cents
             |FROM daily JOIN ds USING (dow) CROSS JOIN t
             |ORDER BY day""".stripMargin)),

    // Longest consecutive-active-day streak per user — the date-minus-
    // rank idiom: distinct active days ranked per user; day − rank is
    // CONSTANT within a consecutive run, so one aggregate over that
    // difference yields every streak. All date/integer arithmetic.
    "ts_daily_streak" -> Decl(
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
        days
          .withColumn("grp", expr("date_sub(day, CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT))"))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("longest_streak"),
               sum(col("len")).as("active_days"))
          .orderBy("user_id")
      },
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |              FROM events),
             |g AS (SELECT user_id, day,
             |        day - CAST(row_number() OVER (PARTITION BY user_id
             |                     ORDER BY day) AS INT) AS grp
             |      FROM days),
             |runs AS (SELECT user_id, grp, count(*) AS len
             |         FROM g GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
             |       CAST(max(len) AS BIGINT) AS longest_streak,
             |       CAST(sum(len) AS BIGINT) AS active_days
             |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Engagement stickiness (WAU over trailing
    // 4-week MAU).

    // Stickiness: weekly actives over the trailing-4-week actives — the
    // WAU/MAU engagement ratio. The sliding distinct is computed by
    // fanning each (user, active-week) pair out to the ≤4 target weeks
    // it supports, then one distinct count per target week — bounded 4×
    // fan-out of the already-aggregated activity grid, never raw events.
    // Reported for fully-covered weeks only (3 predecessors exist).
    "ts_stickiness_wau_mau" -> Decl(
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id"),
                  expr("unix_micros(ts) div 604800000000L").as("wk"))
          .distinct()
          .localCheckpoint(true)
        val bounds = act.agg(min(col("wk")).as("wk0"), max(col("wk")).as("wk1"))
        val wau = act.groupBy("wk").agg(count(lit(1)).as("wau"))
        val mau = act
          .select(col("user_id"), explode(expr("sequence(wk, wk + 3L)")).as("twk"))
          .distinct()
          .groupBy(col("twk").as("wk")).agg(count(lit(1)).as("mau"))
        wau.join(mau, "wk").crossJoin(broadcast(bounds))
          .filter(col("wk") >= col("wk0") + 3 && col("wk") <= col("wk1"))
          .select(col("wk"), col("wau"), col("mau"),
                  expr("wau * 1000000L div mau").as("stickiness_ppm"))
          .orderBy("wk")
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
             |               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
             |             FROM events),
             |b AS (SELECT min(wk) AS wk0, max(wk) AS wk1 FROM act),
             |wau AS (SELECT wk, count(*) AS wau FROM act GROUP BY wk),
             |mau AS (SELECT twk AS wk, count(*) AS mau FROM (
             |          SELECT DISTINCT user_id, wk + i AS twk
             |          FROM act, unnest(generate_series(0, 3)) AS t(i))
             |        GROUP BY twk)
             |SELECT wk, CAST(wau AS BIGINT) AS wau, CAST(mau AS BIGINT) AS mau,
             |       CAST(wau * 1000000 // mau AS BIGINT) AS stickiness_ppm
             |FROM wau JOIN mau USING (wk) CROSS JOIN b
             |WHERE wk >= wk0 + 3 AND wk <= wk1
             |ORDER BY wk""".stripMargin)),

    // Windowed-absence targeting.

    // Campaign targeting by windowed absence: users active in the final
    // two weeks of the fixture with NO purchase in that window — the
    // re-engagement segment. One activity aggregate, one anti join on
    // the purchase sub-stream, both keyed on user.
    "ts_inactive_purchasers" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
                  expr("unix_micros(ts) div 604800000000L").as("wk"))
        val horizon = ev.agg(max(col("wk")).as("wk1"))
        val windowed = ev.crossJoin(broadcast(horizon))
          .filter(col("wk") >= col("wk1") - 1)
        val active = windowed.groupBy("user_id")
          .agg(count(lit(1)).as("n_recent"),
               max(col("wk")).as("last_wk"))
        val purchasers = windowed.filter(col("event_type") === "purchase")
          .select("user_id").distinct()
        active.join(purchasers, Seq("user_id"), "left_anti")
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |              CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
             |            FROM events),
             |h AS (SELECT max(wk) AS wk1 FROM ev),
             |w AS (SELECT user_id, event_type, wk FROM ev CROSS JOIN h
             |      WHERE wk >= wk1 - 1),
             |a AS (SELECT user_id, count(*) AS n_recent, max(wk) AS last_wk
             |      FROM w GROUP BY user_id)
             |SELECT a.user_id, CAST(n_recent AS BIGINT) AS n_recent,
             |       CAST(last_wk AS BIGINT) AS last_wk
             |FROM a ANTI JOIN (SELECT DISTINCT user_id FROM w
             |                  WHERE event_type = 'purchase') p
             |     USING (user_id)
             |ORDER BY a.user_id""".stripMargin)),

    // Cohort economics, mark-join projection, interval
    // algebra, and weighted running ratios. Exact integer micros/cents into
    // terminal rounded ratios; windows ride user-bounded or spine-bounded
    // partitions only.

    // Cohort LTV triangle: users cohort by first-event week; purchase
    // revenue accumulates by cohort × age-week. Two shuffles on natural
    // keys (user for the cohort, then the bounded cohort×age grid) and
    // one cumulative window over the ≤ (weeks × weeks) spine.
    "ts_cohort_ltv_matrix" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
                  expr("unix_micros(ts) div 604800000000L").as("wk"),
                  round(col("value") * 100).cast("bigint").as("cents"))
        val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        val cells = ev.filter(col("event_type") === "purchase")
          .join(cohort, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
          .agg(sum(col("cents")).as("rev_cents"),
               count(lit(1)).as("n_purchases"))
        val w = Window.partitionBy("cohort_wk").orderBy("age_wk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells
          .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
          .select("cohort_wk", "age_wk", "n_purchases", "rev_cents", "cum_rev_cents")
          .orderBy("cohort_wk", "age_wk")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |              CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk,
             |              CAST(round(value * 100) AS BIGINT) AS cents
             |            FROM events),
             |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
             |cells AS (SELECT cohort_wk, ev.wk - cohort_wk AS age_wk,
             |            sum(cents) AS rev_cents, count(*) AS n_purchases
             |          FROM ev JOIN cohort USING (user_id)
             |          WHERE event_type = 'purchase'
             |          GROUP BY 1, 2)
             |SELECT cohort_wk, age_wk, CAST(n_purchases AS BIGINT) AS n_purchases,
             |       CAST(rev_cents AS BIGINT) AS rev_cents,
             |       CAST(sum(rev_cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk
             |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
             |FROM cells ORDER BY cohort_wk, age_wk""".stripMargin)),

    // Mark join: EXISTS as a PROJECTED boolean, not a filter — the
    // reference-engine operator class DuckDB plans as a MARK join. Spark
    // decorrelates the select-list EXISTS into an ExistenceJoin; no row
    // of the probe side is dropped or duplicated.
    "predicate_exists_project" -> Decl(
      (s, d) => {
        Tables.views(s, d)
        s.sql("""SELECT c_custkey, c_mktsegment,
                |       EXISTS (SELECT 1 FROM orders
                |               WHERE o_custkey = c_custkey
                |                 AND o_totalprice > 300000.0) AS has_big_order
                |FROM customer ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |       EXISTS (SELECT 1 FROM orders
             |               WHERE o_custkey = c_custkey
             |                 AND o_totalprice > 300000.0) AS has_big_order
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // Interval union (merge-overlaps): each event claims [ts, ts+5 min);
    // per user, overlapping claims merge into maximal runs. New-run flag
    // compares against the running max of predecessors' ends — the
    // watermark-free sessionization primitive — then one cumulative sum
    // mints run ids. Output: per-user run count and exact covered micros.
    "ts_interval_union" -> Decl(
      (s, d) => {
        val span = 300000000L // 5 minutes in micros
        val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
        val prevMax = ord.rowsBetween(Window.unboundedPreceding, -1)
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val runs = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
                  expr("unix_micros(ts)").as("us"))
          .withColumn("pmax", max(col("us") + span).over(prevMax))
          .withColumn("brk",
            when(col("pmax").isNull || col("us") > col("pmax"), 1L).otherwise(0L))
          .withColumn("run", sum(col("brk")).over(cum))
          .groupBy("user_id", "run")
          .agg(min(col("us")).as("run_start"),
               max(col("us") + span).as("run_end"))
        runs.groupBy("user_id")
          .agg(count(lit(1)).as("n_runs"),
               sum(col("run_end") - col("run_start")).as("covered_us"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |             CAST(epoch_us(ts) AS BIGINT) AS us
             |           FROM events),
             |m AS (SELECT user_id, event_id, us,
             |        max(us + 300000000) OVER (PARTITION BY user_id
             |          ORDER BY us, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |      FROM e),
             |b AS (SELECT user_id, us,
             |        CASE WHEN pmax IS NULL OR us > pmax THEN 1 ELSE 0 END AS brk,
             |        event_id
             |      FROM m),
             |r AS (SELECT user_id, us,
             |        sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |                       ROWS UNBOUNDED PRECEDING) AS run
             |      FROM b),
             |runs AS (SELECT user_id, run, min(us) AS run_start,
             |                max(us + 300000000) AS run_end
             |         FROM r GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_runs,
             |       CAST(sum(run_end - run_start) AS BIGINT) AS covered_us
             |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Running volume-weighted average price per user: cumulative
    // Σ(price·qty)/Σqty over the user's purchase history — both running
    // sums exact BIGINT (price in cents, qty minted 1..5 from the id),
    // one terminal rounded division per row.
    "window_vwap_running" -> Decl(
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
                  expr("unix_micros(ts)").as("us"),
                  round(col("value") * 100).cast("bigint").as("px"),
                  (col("event_id") % 5L + 1L).as("qty"))
          .withColumn("cum_pv", sum(col("px") * col("qty")).over(cum))
          .withColumn("cum_v", sum(col("qty")).over(cum))
          .select(col("user_id"), col("event_id"), col("cum_pv"), col("cum_v"),
                  round(col("cum_pv").cast("double") / col("cum_v"), 6).as("vwap"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH p AS (SELECT user_id, event_id,
             |             CAST(epoch_us(ts) AS BIGINT) AS us,
             |             CAST(round(value * 100) AS BIGINT) AS px,
             |             event_id % 5 + 1 AS qty
             |           FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, event_id,
             |        sum(px * qty) OVER w AS cum_pv,
             |        sum(qty) OVER w AS cum_v
             |      FROM p
             |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             |                   ROWS UNBOUNDED PRECEDING))
             |SELECT user_id, event_id, CAST(cum_pv AS BIGINT) AS cum_pv,
             |       CAST(cum_v AS BIGINT) AS cum_v,
             |       round(CAST(cum_pv AS DOUBLE) / cum_v, 6) AS vwap
             |FROM c ORDER BY user_id, event_id""".stripMargin)),

    // Seasonal decomposition, diversity indices, corpus
    // vocabulary growth, and phone normalization. The decomposition keeps
    // every intermediate in EXACT integer units of 1/25 (the trend window
    // width) so no float survives past the single terminal rounding; all
    // other statistics follow the usual integer-sufficient-statistics rule.

    // Additive seasonal decomposition of the hourly traffic series:
    // trend = centered 25-hour moving sum (kept as the SUM — integer,
    // i.e. 25× the mean), detrended = 25·c − trend25 (still integer),
    // seasonal(hour-of-day) = mean of detrended — one terminal rounded
    // division by 25·n. Both windows ride the BOUNDED global hour spine
    // (the aggregate collapses events first).
    "ts_seasonal_additive" -> Decl(
      (s, d) => {
        val spine = Tables.events(s, d)
          .groupBy(expr("unix_micros(ts) div 3600000000L").as("hr"))
          .agg(count(lit(1)).as("c"))
        val w = Window.orderBy("hr").rowsBetween(-12, 12)
        spine
          .withColumn("n_win", count(lit(1)).over(w))
          .withColumn("trend25", sum(col("c")).over(w))
          .filter(col("n_win") === 25) // full windows only
          .select(pmod(col("hr"), lit(24L)).as("hod"),
                  (col("c") * 25 - col("trend25")).as("detr25"))
          .groupBy("hod")
          .agg(count(lit(1)).as("n"), sum(col("detr25")).as("detr_sum25"))
          .select(col("hod"), col("n"), col("detr_sum25"),
                  round(col("detr_sum25").cast("double") / (col("n") * 25), 6)
                    .as("seasonal"))
          .orderBy("hod")
      },
      Some("""WITH spine AS (
             |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
             |         count(*) AS c
             |  FROM events GROUP BY 1),
             |t AS (SELECT hr, c,
             |        count(*) OVER w AS n_win,
             |        sum(c) OVER w AS trend25
             |      FROM spine
             |      WINDOW w AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING
             |                   AND 12 FOLLOWING)),
             |detr AS (SELECT hr % 24 AS hod, c * 25 - trend25 AS detr25
             |         FROM t WHERE n_win = 25)
             |SELECT CAST(hod AS BIGINT) AS hod, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(detr25) AS BIGINT) AS detr_sum25,
             |       round(CAST(sum(detr25) AS DOUBLE) / (count(*) * 25), 6)
             |         AS seasonal
             |FROM detr GROUP BY hod ORDER BY hod""".stripMargin)),

    // Simpson diversity (1 − Σ share²) of each user's event-type mix —
    // the probability two random events differ in type; the quadratic
    // companion of agg_entropy_bygroup. (n² − Σc²)/n² keeps everything
    // integer until one terminal division.
    "agg_diversity_simpson" -> Decl(
      (s, d) => {
        Tables.events(s, d)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
          .groupBy("user_id")
          .agg(sum(col("c")).as("n"),
               sum(col("c") * col("c")).as("sum_c2"))
          .select(col("user_id"), col("n"),
                  round((col("n") * col("n") - col("sum_c2")).cast("double")
                        / (col("n") * col("n")).cast("double"), 6).as("simpson"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS c
             |           FROM events GROUP BY 1, 2),
             |s AS (SELECT user_id, sum(c) AS n, sum(c * c) AS sum_c2
             |      FROM c GROUP BY user_id)
             |SELECT user_id, CAST(n AS BIGINT) AS n,
             |       round(CAST(n * n - sum_c2 AS DOUBLE)
             |             / CAST(n * n AS DOUBLE), 6) AS simpson
             |FROM s ORDER BY user_id""".stripMargin)),

    // Heaps'-law vocabulary growth: cumulative distinct words vs
    // cumulative tokens at every 50-document checkpoint, scanning the
    // corpus ONCE — vocabulary via first-occurrence doc (min doc_id per
    // word, the text_ngram_novelty machinery), both curves as cumulative
    // sums over the bounded checkpoint spine.
    "text_vocab_growth" -> Decl(
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val tokensPerCkpt = tok
          .groupBy(expr("doc_id div 50").as("ckpt"))
          .agg(count(lit(1)).as("toks"))
        val vocabPerCkpt = tok.groupBy("w").agg(min(col("doc_id")).as("first_doc"))
          .groupBy(expr("first_doc div 50").as("ckpt"))
          .agg(count(lit(1)).as("new_words"))
        // The checkpoint spine is doc_id div 50 — it grows WITH the
        // corpus, so both curves use the shared-order distributed prefix
        // sum (one range exchange, one local pass), never an
        // unpartitioned window (round-9 verdict family).
        val spine = tokensPerCkpt.join(vocabPerCkpt, Seq("ckpt"), "full")
          .select(col("ckpt"),
                  coalesce(col("toks"), lit(0L)).as("t0"),
                  coalesce(col("new_words"), lit(0L)).as("v0"))
        PrefixSum.cumsumLongs(spine, Seq(col("ckpt")),
            Seq(col("t0") -> "cum_tokens", col("v0") -> "cum_vocab"))
          .select("ckpt", "cum_tokens", "cum_vocab")
          .orderBy("ckpt")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |             FROM documents),
             |tpc AS (SELECT doc_id // 50 AS ckpt, count(*) AS toks
             |        FROM tok GROUP BY 1),
             |vpc AS (SELECT first_doc // 50 AS ckpt, count(*) AS new_words
             |        FROM (SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w)
             |        GROUP BY 1)
             |SELECT ckpt,
             |       CAST(sum(coalesce(toks, 0)) OVER (ORDER BY ckpt
             |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             |       CAST(sum(coalesce(new_words, 0)) OVER (ORDER BY ckpt
             |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
             |FROM tpc FULL JOIN vpc USING (ckpt)
             |ORDER BY ckpt""".stripMargin)),

    // E.164 phone normalization: a deterministic formatted US number per
    // customer ("(303) 555-0142" style with noise punctuation), stripped
    // to digits and prefixed — regexp_replace + concat riding the scan,
    // the log-normalization scalar family.
    "scalar_phone_e164" -> Decl(
      (s, d) => {
        Tables(s, d, "customer")
          .select(col("c_custkey"),
                  concat(lit("("), lpad((col("c_custkey") % 800L + 200L).cast("string"), 3, "0"),
                         lit(") "), lpad((col("c_custkey") * 7L % 1000L).cast("string"), 3, "0"),
                         lit("-"), lpad((col("c_custkey") * 13L % 10000L).cast("string"), 4, "0"))
                    .as("raw"))
          .select(col("c_custkey"), col("raw"),
                  concat(lit("+1"), regexp_replace(col("raw"), "[^0-9]", ""))
                    .as("e164"),
                  length(regexp_replace(col("raw"), "[^0-9]", ""))
                    .cast("bigint").as("n_digits"))
          .orderBy("c_custkey")
      },
      Some("""WITH r AS (
             |  SELECT c_custkey,
             |         '(' || lpad(CAST(c_custkey % 800 + 200 AS VARCHAR), 3, '0') ||
             |         ') ' || lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') ||
             |         '-' || lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0') AS raw
             |  FROM customer)
             |SELECT c_custkey, raw,
             |       '+1' || regexp_replace(raw, '[^0-9]', '', 'g') AS e164,
             |       CAST(length(regexp_replace(raw, '[^0-9]', '', 'g')) AS BIGINT)
             |         AS n_digits
             |FROM r ORDER BY c_custkey""".stripMargin)),

    // SLA attainment, embedding-cluster cohesion,
    // and temporal referential integrity. Integer ppm ratios by floor
    // division; float cosines rounded per-term then folded in sorted order.

    // SLA attainment: share of orders whose FIRST shipment lands within
    // the priority's SLA window — the operations KPI. Exact day
    // arithmetic, attainment as integer ppm floor division.
    "ts_sla_attainment" -> Decl(
      (s, d) => {
        val sla = when(col("o_orderpriority") === "1-URGENT", 7L)
          .when(col("o_orderpriority") === "2-HIGH", 14L)
          .when(col("o_orderpriority") === "3-MEDIUM", 30L)
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", 60L)
          .otherwise(90L)
        Tables(s, d, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("first_ship"))
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"), sla.as("sla_days"),
                  when(datediff(col("first_ship").cast("date"),
                                col("o_orderdate").cast("date")) <= sla, 1L)
                    .otherwise(0L).as("ok"))
          .groupBy("o_orderpriority")
          .agg(max(col("sla_days")).as("sla_days"),
               count(lit(1)).as("n_orders"), sum(col("ok")).as("n_attained"))
          .select(col("o_orderpriority"), col("sla_days"), col("n_orders"),
                  col("n_attained"),
                  expr("n_attained * 1000000L div n_orders").as("attain_ppm"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH f AS (SELECT l_orderkey, min(l_shipdate) AS first_ship
             |           FROM lineitem GROUP BY l_orderkey),
             |j AS (SELECT o_orderpriority,
             |        CASE o_orderpriority WHEN '1-URGENT' THEN 7
             |          WHEN '2-HIGH' THEN 14 WHEN '3-MEDIUM' THEN 30
             |          WHEN '4-NOT SPECIFIED' THEN 60 ELSE 90 END AS sla_days,
             |        CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
             |               CAST(first_ship AS DATE))
             |             <= CASE o_orderpriority WHEN '1-URGENT' THEN 7
             |                  WHEN '2-HIGH' THEN 14 WHEN '3-MEDIUM' THEN 30
             |                  WHEN '4-NOT SPECIFIED' THEN 60 ELSE 90 END
             |             THEN 1 ELSE 0 END AS ok
             |      FROM f JOIN orders ON l_orderkey = o_orderkey)
             |SELECT o_orderpriority, CAST(max(sla_days) AS BIGINT) AS sla_days,
             |       CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(ok) AS BIGINT) AS n_attained,
             |       CAST(sum(ok) * 1000000 // count(*) AS BIGINT) AS attain_ppm
             |FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Cluster cohesion: mean cosine of each label's members to their own
    // (6-dp-rounded) centroid — the embedding-quality diagnostic. The
    // centroid is the agg_vector_centroid surface assembled into an
    // ordered array; per-member cosines round at 6 dp BEFORE a sorted
    // fold, so the float mean is engine-identical.
    "vec_cluster_cohesion" -> Decl(
      (s, d) => {
        val cent = Tables(s, d, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("label"), col("pos"))
          .agg(round(avg(col("v").cast("double")), 6).as("coord"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(pos, coord))), p -> p.coord)")
            .as("centroid"))
        // double-precision HOF cosine (probed EXACT-MATCH against DuckDB's
        // list_cosine_similarity at 6 dp) — the float-typed vec_dot would
        // quantize the centroid and diverge from the oracle's doubles
        val dot = expr(
          "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), centroid, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
        def norm(c: String) = sqrt(expr(
          s"aggregate(transform(CAST($c AS ARRAY<DOUBLE>), x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"))
        Tables(s, d, "embeddings")
          .join(broadcast(cent), "label")
          .select(col("label"),
                  round(dot / (norm("embedding") * norm("centroid")), 6).as("cos"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"),
               array_sort(collect_list(col("cos"))).as("cs"))
          .select(col("label"), col("n_members"),
                  round(expr("aggregate(cs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
                        / col("n_members"), 6).as("cohesion"))
          .orderBy("label")
      },
      Some("""WITH cent AS (
             |  SELECT label, list(coord ORDER BY pos) AS centroid
             |  FROM (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS coord
             |        FROM (SELECT label, unnest(embedding) AS v,
             |                     generate_subscripts(embedding, 1) AS pos
             |              FROM embeddings)
             |        GROUP BY label, pos)
             |  GROUP BY label),
             |m AS (SELECT e.label,
             |        round(list_cosine_similarity(e.embedding, c.centroid), 6) AS cos
             |      FROM embeddings e JOIN cent c USING (label))
             |SELECT label, CAST(count(*) AS BIGINT) AS n_members,
             |       round(list_sum(list(cos ORDER BY cos)) / count(*), 6) AS cohesion
             |FROM m GROUP BY label ORDER BY label""".stripMargin)),

    // Temporal referential integrity: lineitems shipping BEFORE their
    // order was placed, audited per order year — the time-travel data
    // bug every warehouse load must gate on. Exact integer censuses and
    // a ppm floor division.
    "quality_temporal_integrity" -> Decl(
      (s, d) => {
        Tables(s, d, "lineitem")
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(year(col("o_orderdate")).cast("bigint").as("yr"),
                  when(col("l_shipdate").cast("date") < col("o_orderdate").cast("date"), 1L)
                    .otherwise(0L).as("bad"))
          .groupBy("yr")
          .agg(count(lit(1)).as("n_lines"), sum(col("bad")).as("n_violations"))
          .select(col("yr"), col("n_lines"), col("n_violations"),
                  expr("n_violations * 1000000L div n_lines").as("violation_ppm"))
          .orderBy("yr")
      },
      Some("""WITH j AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |             CASE WHEN CAST(l_shipdate AS DATE)
             |                       < CAST(o_orderdate AS DATE)
             |                  THEN 1 ELSE 0 END AS bad
             |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             |SELECT yr, CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum(bad) AS BIGINT) AS n_violations,
             |       CAST(sum(bad) * 1000000 // count(*) AS BIGINT) AS violation_ppm
             |FROM j GROUP BY yr ORDER BY yr""".stripMargin)),

    // Sequence-pattern analytics (the MATCH_RECOGNIZE-
    // shaped regex funnel over per-user event strings) and nested-struct
    // field surgery (withField/dropFields — the schema-evolution API for
    // struct columns).
    //
    // Scale shape: the pattern keys build one ordered event string per
    // user — per-key state is bounded by a user's own activity (the
    // ts_session_path class), gathered by a single map-side-combined
    // collect_list; no window ever spans users, and the regex match is
    // per-row codegen'd work. The struct key is a pure projection.
    //
    // Determinism: event initials are unique per type (click/error/
    // purchase/signup/view → c,e,p,s,v), order is (epoch micros, event_id)
    // — a total key — and both engines run the same anchored-free regex
    // find semantics (Java regex and RE2 agree on this alternation-free
    // fragment).

    // Regex funnel per user over the complete ordered event-type string:
    // strict = a contiguous view→clicks→purchase run ('vc+p'), subseq =
    // the lazy anywhere-order funnel ('v.*c.*p'). This is the
    // MATCH_RECOGNIZE workload expressed Spark-first: sequences built by
    // one aggregate, pattern evaluated as a scalar — not a per-row NFA
    // operator the optimizer can't see through.
    "ts_pattern_match_regex" -> Decl(
      (s, d) => {
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  expr("unix_micros(ts)").as("us"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               expr("array_join(transform(array_sort(collect_list(" +
                    "struct(us, event_id, event_type))), " +
                    "p -> substring(p.event_type, 1, 1)), '')").as("seq"))
          .select(col("user_id"), col("n_events"), col("seq"),
                  when(col("seq").rlike("vc+p"), 1L).otherwise(0L).as("strict"),
                  when(col("seq").rlike("v.*c.*p"), 1L).otherwise(0L).as("subseq"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       string_agg(substring(event_type, 1, 1), ''
             |                  ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id)
             |         AS seq,
             |       CAST(CASE WHEN regexp_matches(
             |              string_agg(substring(event_type, 1, 1), ''
             |                ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id),
             |              'vc+p') THEN 1 ELSE 0 END AS BIGINT) AS strict,
             |       CAST(CASE WHEN regexp_matches(
             |              string_agg(substring(event_type, 1, 1), ''
             |                ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id),
             |              'v.*c.*p') THEN 1 ELSE 0 END AS BIGINT) AS subseq
             |FROM events
             |GROUP BY user_id ORDER BY user_id NULLS FIRST""".stripMargin)),

    // The funnel report on top of the same sequences: population counts
    // and exact-integer ppm rates (half-up integer div, the repo's
    // terminal-rounding discipline for rates).
    "ts_funnel_regex_rates" -> Decl(
      (s, d) => {
        val seqs = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  expr("unix_micros(ts)").as("us"))
          .groupBy("user_id")
          .agg(expr("array_join(transform(array_sort(collect_list(" +
                    "struct(us, event_id, event_type))), " +
                    "p -> substring(p.event_type, 1, 1)), '')").as("seq"))
        seqs.agg(
            count(lit(1)).as("n_users"),
            sum(when(col("seq").rlike("vc+p"), 1L).otherwise(0L)).as("n_strict"),
            sum(when(col("seq").rlike("v.*c.*p"), 1L).otherwise(0L)).as("n_subseq"))
          .select(col("n_users"), col("n_strict"), col("n_subseq"),
                  expr("(n_strict * 2000000L + n_users) div (2L * n_users)")
                    .as("strict_ppm"),
                  expr("(n_subseq * 2000000L + n_users) div (2L * n_users)")
                    .as("subseq_ppm"))
      },
      Some("""WITH seqs AS (
             |  SELECT string_agg(substring(event_type, 1, 1), ''
             |           ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id) AS seq
             |  FROM events GROUP BY user_id)
             |SELECT CAST(count(*) AS BIGINT) AS n_users,
             |       CAST(sum(CASE WHEN regexp_matches(seq, 'vc+p')
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_strict,
             |       CAST(sum(CASE WHEN regexp_matches(seq, 'v.*c.*p')
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_subseq,
             |       CAST((sum(CASE WHEN regexp_matches(seq, 'vc+p')
             |                      THEN 1 ELSE 0 END) * 2000000 + count(*))
             |            // (2 * count(*)) AS BIGINT) AS strict_ppm,
             |       CAST((sum(CASE WHEN regexp_matches(seq, 'v.*c.*p')
             |                      THEN 1 ELSE 0 END) * 2000000 + count(*))
             |            // (2 * count(*)) AS BIGINT) AS subseq_ppm
             |FROM seqs""".stripMargin)),

    // Nested-struct field surgery: build a struct column, then evolve it
    // in place — withField ADDS a derived cents field, dropFields REMOVES
    // the float it replaced (the nested schema-evolution idiom for deeply
    // structured telemetry, where re-building the whole struct by hand
    // is the bug-prone alternative). The evolved struct's fields are
    // flattened for the output (nested values are hash-fragile across
    // engines; the spec asserts the intermediate struct schema).
    "scalar_struct_fields" -> Decl(
      (s, d) => {
        val evolved = Tables.events(s, d)
          .select(col("event_id"),
                  struct(col("event_type").as("et"),
                         col("value").as("v"),
                         col("user_id").as("uid")).as("payload"))
          .withColumn("payload",
            col("payload")
              .withField("v_cents",
                         round(col("payload.v") * 100).cast("bigint"))
              .dropFields("v"))
        Tables.canon(
          evolved.select(col("event_id"),
                         col("payload.et").as("et"),
                         col("payload.uid").as("uid"),
                         col("payload.v_cents").as("v_cents")))
      },
      Some("""SELECT event_id, event_type AS et, user_id AS uid,
             |       CAST(round(value * 100) AS BIGINT) AS v_cents
             |FROM events ORDER BY ALL NULLS FIRST""".stripMargin)),

    // The Ljung–Box portmanteau test (exact
    // per-lag sufficient statistics, fixed-order 10-term assembly) and
    // human-readable byte formatting.

    // Ljung–Box Q over lags 1..10 of the hourly count series per event
    // type: each lag's autocorrelation comes from exact BIGINT pair sums
    // (n, Σx, Σy, Σxy, Σx², Σy²) on the bounded spine self-join; r_k²
    // terms pivot to one row per type and Q assembles them in a FIXED
    // left-to-right chain — no unordered float reduction anywhere.
    "ts_ljung_box" -> Decl(
      (s, d) => {
        val spine = Tables.events(s, d)
          .groupBy(col("event_type"),
                   expr("unix_micros(ts) div 3600000000L").as("hr"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        val lags = s.range(1, 11).select(col("id").as("lag"))
        val pairs = spine.crossJoin(broadcast(lags))
          .join(spine.select(col("event_type").as("et2"),
                             col("hr").as("hr2"), col("c").as("c2")),
                col("et2") === col("event_type") &&
                col("hr2") === col("hr") + col("lag"))
          .groupBy("event_type", "lag")
          .agg(count(lit(1)).as("nk"),
               sum(col("c")).as("sx"), sum(col("c2")).as("sy"),
               sum(col("c") * col("c2")).as("sxy"),
               sum(col("c") * col("c")).as("sxx"),
               sum(col("c2") * col("c2")).as("syy"))
        val r2 = pairs.select(col("event_type"), col("lag"),
          (((col("nk") * col("sxy") - col("sx") * col("sy"))
             * (col("nk") * col("sxy") - col("sx") * col("sy"))).cast("double")
            / ((col("nk") * col("sxx") - col("sx") * col("sx"))
                * (col("nk") * col("syy") - col("sy") * col("sy"))).cast("double"))
            .as("r2"))
        val n = spine.groupBy("event_type").agg(count(lit(1)).as("n"))
        val piv = r2.groupBy("event_type")
          .pivot("lag", (1 to 10).map(_.toString))
          .agg(first(col("r2")))
        val q = (1 to 10)
          .map(k => col(k.toString) / (col("n") - k).cast("double"))
          .reduceLeft(_ + _)
        piv.join(broadcast(n), "event_type")
          .select(col("event_type"), col("n").as("n_hours"),
                  round((col("n") * (col("n") + 2)).cast("double") * q, 6)
                    .as("ljung_box_q"))
          .orderBy("event_type")
      },
      Some("""WITH spine AS (
             |  SELECT event_type,
             |         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |n AS (SELECT event_type, count(*) AS n FROM spine GROUP BY 1),
             |pairs AS (
             |  SELECT a.event_type, l.lag, count(*) AS nk,
             |         sum(a.c) AS sx, sum(b.c) AS sy, sum(a.c * b.c) AS sxy,
             |         sum(a.c * a.c) AS sxx, sum(b.c * b.c) AS syy
             |  FROM spine a
             |       CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS lag) l
             |       JOIN spine b ON b.event_type = a.event_type
             |                   AND b.hr = a.hr + l.lag
             |  GROUP BY 1, 2),
             |r2 AS (SELECT event_type, lag,
             |         CAST((nk * sxy - sx * sy) * (nk * sxy - sx * sy) AS DOUBLE)
             |         / CAST((nk * sxx - sx * sx) * (nk * syy - sy * sy) AS DOUBLE)
             |           AS r2
             |       FROM pairs),
             |piv AS (SELECT event_type,
             |          max(CASE WHEN lag = 1 THEN r2 END) AS r1,
             |          max(CASE WHEN lag = 2 THEN r2 END) AS r2_,
             |          max(CASE WHEN lag = 3 THEN r2 END) AS r3,
             |          max(CASE WHEN lag = 4 THEN r2 END) AS r4,
             |          max(CASE WHEN lag = 5 THEN r2 END) AS r5,
             |          max(CASE WHEN lag = 6 THEN r2 END) AS r6,
             |          max(CASE WHEN lag = 7 THEN r2 END) AS r7,
             |          max(CASE WHEN lag = 8 THEN r2 END) AS r8,
             |          max(CASE WHEN lag = 9 THEN r2 END) AS r9,
             |          max(CASE WHEN lag = 10 THEN r2 END) AS r10
             |        FROM r2 GROUP BY event_type)
             |SELECT piv.event_type, CAST(n AS BIGINT) AS n_hours,
             |       round(CAST(n * (n + 2) AS DOUBLE) *
             |         (r1 / CAST(n - 1 AS DOUBLE) + r2_ / CAST(n - 2 AS DOUBLE)
             |          + r3 / CAST(n - 3 AS DOUBLE) + r4 / CAST(n - 4 AS DOUBLE)
             |          + r5 / CAST(n - 5 AS DOUBLE) + r6 / CAST(n - 6 AS DOUBLE)
             |          + r7 / CAST(n - 7 AS DOUBLE) + r8 / CAST(n - 8 AS DOUBLE)
             |          + r9 / CAST(n - 9 AS DOUBLE) + r10 / CAST(n - 10 AS DOUBLE)), 6)
             |         AS ljung_box_q
             |FROM piv JOIN n USING (event_type)
             |ORDER BY piv.event_type""".stripMargin)),

    // Human-readable byte formatting: exact integer floor divisions pick
    // the unit and the two-decimal mantissa (value·100 div unit) — no
    // log, no float, no locale. The report-rendering scalar family.
    "scalar_bytes_humanize" -> Decl(
      (s, d) => {
        val bytes = (col("o_orderkey") * 131071L + 1024L).as("n_bytes")
        Tables(s, d, "orders")
          .select(col("o_orderkey"), bytes)
          .select(col("o_orderkey"), col("n_bytes"),
                  when(col("n_bytes") >= 1073741824L,
                       concat((expr("n_bytes * 100 div 1073741824") / 100.0d).cast("string"),
                              lit(" GiB")))
                    .when(col("n_bytes") >= 1048576L,
                       concat((expr("n_bytes * 100 div 1048576") / 100.0d).cast("string"),
                              lit(" MiB")))
                    .when(col("n_bytes") >= 1024L,
                       concat((expr("n_bytes * 100 div 1024") / 100.0d).cast("string"),
                              lit(" KiB")))
                    .otherwise(concat(col("n_bytes").cast("string"), lit(" B")))
                    .as("human"))
          .orderBy("o_orderkey")
      },
      Some("""WITH b AS (SELECT o_orderkey,
             |             o_orderkey * 131071 + 1024 AS n_bytes
             |           FROM orders)
             |SELECT o_orderkey, CAST(n_bytes AS BIGINT) AS n_bytes,
             |       CASE WHEN n_bytes >= 1073741824
             |            THEN CAST(CAST(n_bytes * 100 // 1073741824 AS DOUBLE)
             |                      / 100.0 AS VARCHAR) || ' GiB'
             |            WHEN n_bytes >= 1048576
             |            THEN CAST(CAST(n_bytes * 100 // 1048576 AS DOUBLE)
             |                      / 100.0 AS VARCHAR) || ' MiB'
             |            WHEN n_bytes >= 1024
             |            THEN CAST(CAST(n_bytes * 100 // 1024 AS DOUBLE)
             |                      / 100.0 AS VARCHAR) || ' KiB'
             |            ELSE CAST(n_bytes AS VARCHAR) || ' B' END AS human
             |FROM b ORDER BY o_orderkey""".stripMargin)),

    // Sweep-line concurrency on a bounded spine
    // and exact-integer revenue recognition.

    // Peak concurrency: each event holds a 5-minute activity interval;
    // concurrency sampled at minute starts is cumsum(starts/min) −
    // cumsum(ends/min) over the BOUNDED minute spine (the corpus
    // collapses to per-minute counts first — the scale-honest sweep
    // line). Peak and its earliest minute via one deterministic argmin.
    "ts_peak_concurrency" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 60000000L").as("sm"),
                  expr("(unix_micros(ts) + 300000000L) div 60000000L").as("em"))
        val starts = ev.groupBy(col("sm").as("m")).agg(count(lit(1)).as("ns"))
        val ends = ev.groupBy(col("em").as("m")).agg(count(lit(1)).as("ne"))
        val w = Window.orderBy("m")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val spine = starts.join(ends, Seq("m"), "full")
          .select(col("m"),
                  coalesce(col("ns"), lit(0L)).as("ns"),
                  coalesce(col("ne"), lit(0L)).as("ne"))
          .withColumn("active", sum(col("ns") - col("ne")).over(w))
        spine
          .orderBy(col("active").desc, col("m"))
          .limit(1)
          .select(col("m").as("peak_minute"), col("active").as("peak_active"))
      },
      Some("""WITH ev AS (SELECT CAST(epoch_us(ts) // 60000000 AS BIGINT) AS sm,
             |              CAST((epoch_us(ts) + 300000000) // 60000000 AS BIGINT)
             |                AS em
             |            FROM events),
             |st AS (SELECT sm AS m, count(*) AS ns FROM ev GROUP BY 1),
             |en AS (SELECT em AS m, count(*) AS ne FROM ev GROUP BY 1),
             |spine AS (SELECT m, coalesce(ns, 0) AS ns, coalesce(ne, 0) AS ne
             |          FROM st FULL JOIN en USING (m)),
             |a AS (SELECT m, sum(ns - ne) OVER (ORDER BY m
             |               ROWS UNBOUNDED PRECEDING) AS active
             |      FROM spine)
             |SELECT CAST(m AS BIGINT) AS peak_minute,
             |       CAST(active AS BIGINT) AS peak_active
             |FROM a ORDER BY active DESC, m LIMIT 1""".stripMargin)),

    // Revenue recognition: each order's value prorated evenly across the
    // months from placement to last shipment — div/mod integer
    // allocation (base share everywhere, the remainder recognized in the
    // FIRST month), so every allocated cent is exact and the total
    // reconciles to the source by construction. The month fan-out is
    // bounded by the span; one shuffle to the month ledger.
    "agg_revenue_recognition" -> Decl(
      (s, d) => {
        val span = Tables(s, d, "lineitem")
          .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("last_ship"))
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey"),
                  round(col("o_totalprice") * 100).cast("bigint").as("cents"),
                  (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
                    .cast("bigint").as("m0"),
                  (year(col("last_ship")) * 12 + month(col("last_ship")) - 1)
                    .cast("bigint").as("m1"))
          .filter(col("m1") >= col("m0"))
          .withColumn("nm", col("m1") - col("m0") + 1)
        span
          .select(col("o_orderkey"), col("cents"), col("m0"), col("nm"),
                  explode(expr("sequence(0L, nm - 1)")).as("i"))
          .select((col("m0") + col("i")).as("month_idx"),
                  (expr("cents div nm")
                    + when(col("i") === 0, expr("cents % nm")).otherwise(0L))
                    .as("rec_cents"))
          .groupBy("month_idx")
          .agg(count(lit(1)).as("n_allocs"), sum(col("rec_cents")).as("rec_cents"))
          .orderBy("month_idx")
      },
      Some("""WITH ls AS (SELECT l_orderkey, max(l_shipdate) AS last_ship
             |            FROM lineitem GROUP BY l_orderkey),
             |span AS (SELECT o_orderkey,
             |           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |           CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
             |                AS BIGINT) AS m0,
             |           CAST(year(last_ship) * 12 + month(last_ship) - 1
             |                AS BIGINT) AS m1
             |         FROM ls JOIN orders ON l_orderkey = o_orderkey
             |         WHERE CAST(year(last_ship) * 12 + month(last_ship) - 1 AS BIGINT)
             |               >= CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)),
             |alloc AS (
             |  SELECT m0 + i AS month_idx,
             |         cents // (m1 - m0 + 1)
             |           + CASE WHEN i = 0 THEN cents % (m1 - m0 + 1) ELSE 0 END
             |           AS rec_cents
             |  FROM span, unnest(generate_series(0, m1 - m0)) AS t(i))
             |SELECT CAST(month_idx AS BIGINT) AS month_idx,
             |       CAST(count(*) AS BIGINT) AS n_allocs,
             |       CAST(sum(rec_cents) AS BIGINT) AS rec_cents
             |FROM alloc GROUP BY month_idx ORDER BY month_idx""".stripMargin)),

    // Sequence trigram mining, Zipf rank
    // tables, and the freshness audit.

    // Event-type trigram census: the order-3 extension of the Markov
    // transition surface — which three-step behavioral motifs dominate.
    // Two leads on the shared per-user sort, then one bounded-key
    // (≤125) aggregate.
    "ts_event_trigrams" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  expr("unix_micros(ts)").as("us"))
          .withColumn("t2", lead(col("event_type"), 1).over(w))
          .withColumn("t3", lead(col("event_type"), 2).over(w))
          .filter(col("t3").isNotNull)
          .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
          .agg(count(lit(1)).as("n"))
          .orderBy("t1", "t2", "t3")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |             CAST(epoch_us(ts) AS BIGINT) AS us
             |           FROM events),
             |l AS (SELECT event_type AS t1,
             |        lead(event_type, 1) OVER w AS t2,
             |        lead(event_type, 2) OVER w AS t3
             |      FROM e
             |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
             |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
             |FROM l WHERE t3 IS NOT NULL
             |GROUP BY 1, 2, 3 ORDER BY t1, t2, t3""".stripMargin)),

    // Zipf rank table: the top-100 words by corpus frequency with their
    // rank — the vocabulary head every tokenizer design starts from.
    // The rank window runs over the VOCABULARY aggregate (bounded), and
    // the rank-1-normalized frequency ratio is one terminal division.
    "text_zipf_rank" -> Decl(
      (s, d) => {
        val counts = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
        val rk = Window.orderBy(col("n").desc, col("w"))
        // Filter on the RAW row_number (not a cast of it): the cast would
        // block InferWindowGroupLimit's pattern, losing the per-partition
        // top-k guard that keeps this single-partition rank window fed
        // with <= 100·partitions rows instead of the whole vocabulary.
        val top = counts
          .withColumn("rk0", row_number().over(rk))
          .filter(col("rk0") <= 100)
          .withColumn("rank", col("rk0").cast("bigint"))
          .drop("rk0")
        val f1 = top.filter(col("rank") === 1).select(col("n").as("n1"))
        top.join(broadcast(f1))
          .select(col("rank"), col("w"), col("n"),
                  round(col("n").cast("double") / col("n1"), 6).as("rel_freq"))
          .orderBy("rank")
      },
      Some("""WITH c AS (SELECT w, count(*) AS n FROM (
             |            SELECT unnest(string_split(text, ' ')) AS w
             |            FROM documents) GROUP BY w),
             |r AS (SELECT w, n,
             |        CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
             |      FROM c),
             |t AS (SELECT * FROM r WHERE rank <= 100),
             |f1 AS (SELECT n AS n1 FROM t WHERE rank = 1)
             |SELECT rank, w, CAST(n AS BIGINT) AS n,
             |       round(CAST(n AS DOUBLE) / n1, 6) AS rel_freq
             |FROM t CROSS JOIN f1 ORDER BY rank""".stripMargin)),

    // Freshness audit: the latest business timestamp per temporal table
    // against the fixture horizon — the staleness gate a scheduled
    // pipeline checks before publishing. One max-aggregate per table,
    // unioned.
    "quality_freshness_report" -> Decl(
      (s, d) => {
        val horizon = to_date(lit("2025-01-01"))
        val legs = Seq(
          Tables(s, d, "orders").agg(
            lit("orders").as("table_name"),
            max(col("o_orderdate").cast("date")).as("latest")),
          Tables(s, d, "lineitem").agg(
            lit("lineitem").as("table_name"),
            max(col("l_shipdate").cast("date")).as("latest")),
          Tables.events(s, d).agg(
            lit("events").as("table_name"),
            max(col("ts").cast("date")).as("latest")))
        legs.reduce(_ unionAll _)
          .select(col("table_name"), col("latest"),
                  datediff(horizon, col("latest")).cast("bigint")
                    .as("staleness_days"))
          .orderBy("table_name")
      },
      Some("""SELECT table_name, latest,
             |       CAST(date_diff('day', latest, DATE '2025-01-01') AS BIGINT)
             |         AS staleness_days
             |FROM (
             |  SELECT 'orders' AS table_name,
             |         CAST(max(o_orderdate) AS DATE) AS latest FROM orders
             |  UNION ALL SELECT 'lineitem', CAST(max(l_shipdate) AS DATE)
             |            FROM lineitem
             |  UNION ALL SELECT 'events', CAST(max(ts) AS DATE) FROM events)
             |ORDER BY table_name""".stripMargin)),

    // Multiresolution signal analysis — the unnormalized
    // Haar wavelet energy ladder over the daily revenue series (which
    // timescale carries the variance: day-to-day jitter, weekly cycle, or
    // the fortnight trend) and additive Holt-Winters (level + trend +
    // weekly seasonality, the classical forecaster), whose sequential
    // recurrence the oracle replays as a DuckDB RECURSIVE CTE carrying the
    // seasonal ring as a list — a sequential-recurrence oracle, not a
    // batch one.
    //
    // Determinism: Haar is pure BIGINT (unnormalized sums/differences of
    // exact cents; energies are exact cents²). Holt-Winters recurses over
    // the calendar-bounded 30-day grid with IDENTICAL arithmetic on both
    // engines (same init means folded in day order, same update order);
    // only the output rounds, at 4 dp to absorb the recursion's last-ulp
    // drift.
    //
    // Scale shape: both keys collapse the corpus to the calendar-day grid
    // in one map-side-combined aggregate; the Haar ladder is 5 bounded
    // halving aggregates, and the HW recursion runs on the driver over the
    // collected 30-row grid (calendar-bounded — the IPF/markov pattern).

    // Haar energy ladder: daily revenue cents over Jan 1-30, zero-padded
    // to 32; level k halves the series (approx = pairwise sum, detail =
    // odd − even) and reports the exact detail energy Σd². Level 1 is
    // day-to-day noise, level 3 ≈ the weekly cycle, level 5 the
    // fortnight contrast.
    "ts_haar_energy" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(sum(round(col("value") * 100).cast("bigint")).as("v"))
        var level = s.range(1, 33).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"), coalesce(col("v"), lit(0L)).as("v"))
        val energies = (1 to 5).map { k =>
          val paired = level
            .select(expr("(t + 1) div 2").as("t"),
                    when(col("t") % 2 === 1, col("v")).otherwise(lit(0L))
                      .as("odd"),
                    when(col("t") % 2 === 0, col("v")).otherwise(lit(0L))
                      .as("even"))
            .groupBy("t")
            .agg(sum(col("odd") + col("even")).as("v"),
                 sum(col("odd") - col("even")).as("dd"))
          val e = paired.agg(
            lit(k.toLong).as("level"), count(lit(1)).as("n_coeffs"),
            sum(col("dd") * col("dd")).as("energy_cents2"))
          level = paired.select(col("t"), col("v"))
          e
        }
        energies.reduce(_ unionAll _).orderBy("level")
      },
      Some {
        // unrolled 5-level ladder; each CTE halves the previous
        val b = new StringBuilder(
          """WITH daily AS (
            |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE))
            |           AS t,
            |         sum(CAST(round(value * 100) AS BIGINT)) AS v
            |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
            |l0 AS (SELECT g.t, coalesce(v, 0) AS v
            |       FROM generate_series(1, 32) AS g(t)
            |       LEFT JOIN daily ON daily.t = g.t)""".stripMargin)
        (1 to 5).foreach { k =>
          b.append(s""",
            |l$k AS (SELECT (t + 1) // 2 AS t,
            |              sum(v) AS v,
            |              sum(CASE WHEN t % 2 = 1 THEN v ELSE -v END) AS dd
            |       FROM l${k - 1} GROUP BY 1)""".stripMargin)
        }
        b.append("""
          |SELECT level, CAST(n_coeffs AS BIGINT) AS n_coeffs,
          |       CAST(energy_cents2 AS BIGINT) AS energy_cents2
          |FROM (""".stripMargin)
        b.append((1 to 5).map { k =>
          s"""SELECT $k AS level, count(*) AS n_coeffs,
             |       sum(dd * dd) AS energy_cents2 FROM l$k""".stripMargin
        }.mkString("\n UNION ALL\n"))
        b.append(")\nORDER BY level")
        b.toString
      }),

    // Additive Holt-Winters (α=0.3, β=0.1, γ=0.2, weekly period) on the
    // same daily series: init from week 1 (level = week-1 mean, trend =
    // (week-2 mean − week-1 mean)/7, seasonals = week-1 deviations),
    // recurse days 8..30, then forecast 7 days ahead. One row per day:
    // the one-step-ahead fit (or forecast) and the residual. The oracle
    // replays the exact recurrence as a recursive CTE whose state row
    // carries (level, trend, seasonal-ring list).
    "ts_holt_winters" -> Decl(
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
        val y = spine.map(r => r.getLong(1).toDouble / 100.0) // index 0 = day 1
        val m1 = (0 until 7).map(y).sum / 7.0
        val m2 = (7 until 14).map(y).sum / 7.0
        var lvl = m1
        var trd = (m2 - m1) / 7.0
        var ring = (0 until 7).map(i => y(i) - m1).toArray // s_{t-6..t}
        val rows = scala.collection.mutable.ArrayBuffer[(Long, Option[Double], Double, Option[Double])]()
        (8 to 30).foreach { t =>
          val sOld = ring(0)
          val fit = lvl + trd + sOld
          val yt = y(t - 1)
          val newLvl = Alpha * (yt - sOld) + (1 - Alpha) * (lvl + trd)
          val newTrd = Beta * (newLvl - lvl) + (1 - Beta) * trd
          val newS = Gamma * (yt - newLvl) + (1 - Gamma) * sOld
          ring = ring.drop(1) :+ newS
          lvl = newLvl; trd = newTrd
          rows += ((t.toLong, Some(yt), fit, Some(yt - fit)))
        }
        (1 to 7).foreach { h =>
          rows += ((30L + h, None, lvl + h * trd + ring(h - 1), None))
        }
        def r4(x: Double): Double =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val out = rows.toSeq.map { case (t, yv, f, res) =>
          (t, yv.map(r4), r4(f), res.map(r4))
        }
        s.createDataFrame(out)
          .toDF("day", "actual", "fitted", "residual")
          .orderBy("day")
      },
      Some(s"""WITH RECURSIVE daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE))
             |           AS t,
             |         sum(CAST(round(value * 100) AS BIGINT)) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |y AS (SELECT g.t, CAST(coalesce(c, 0) AS DOUBLE) / 100.0 AS y
             |      FROM generate_series(1, 30) AS g(t)
             |      LEFT JOIN daily ON daily.t = g.t),
             |init AS (
             |  SELECT list_sum(list(y ORDER BY t) FILTER (WHERE t <= 7)) / 7.0 AS m1,
             |         list_sum(list(y ORDER BY t) FILTER (WHERE t BETWEEN 8 AND 14))
             |           / 7.0 AS m2,
             |         list(y - (SELECT list_sum(list(y ORDER BY t)) / 7.0
             |                   FROM y WHERE t <= 7) ORDER BY t)
             |           FILTER (WHERE t <= 7) AS ring
             |  FROM y),
             |hw(t, lvl, trd, ring, yt, fit) AS (
             |  SELECT 7, m1, (m2 - m1) / 7.0, ring,
             |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
             |  FROM init
             |  UNION ALL
             |  SELECT hw.t + 1,
             |         $Alpha * (y.y - hw.ring[1])
             |           + ${1 - Alpha} * (hw.lvl + hw.trd),
             |         $Beta * (($Alpha * (y.y - hw.ring[1])
             |                   + ${1 - Alpha} * (hw.lvl + hw.trd)) - hw.lvl)
             |           + ${1 - Beta} * hw.trd,
             |         hw.ring[2:7] ||
             |           [$Gamma * (y.y - ($Alpha * (y.y - hw.ring[1])
             |                             + ${1 - Alpha} * (hw.lvl + hw.trd)))
             |            + ${1 - Gamma} * hw.ring[1]],
             |         y.y,
             |         hw.lvl + hw.trd + hw.ring[1]
             |  FROM hw JOIN y ON y.t = hw.t + 1
             |  WHERE hw.t < 30),
             |fits AS (SELECT t AS day, yt AS actual, fit FROM hw WHERE t >= 8),
             |fin AS (SELECT lvl, trd, ring FROM hw WHERE t = 30),
             |fc AS (SELECT 30 + h AS day, CAST(NULL AS DOUBLE) AS actual,
             |              lvl + h * trd + ring[h] AS fit
             |       FROM fin CROSS JOIN generate_series(1, 7) AS g(h))
             |SELECT day,
             |       round(actual, 4) AS actual,
             |       round(fit, 4) AS fitted,
             |       round(actual - fit, 4) AS residual
             |FROM (SELECT * FROM fits UNION ALL SELECT * FROM fc)
             |ORDER BY day""".stripMargin)),

    // Chain-ladder cohort completion (the actuarial
    // development-triangle forecast — also the standard way to "complete"
    // immature revenue cohorts) and propensity-score nearest-neighbor
    // matching (the observational-causal workhorse: pair each treated user
    // with its closest control on the pre-period activity score and read
    // the matched treatment effect).
    //
    // Determinism: the triangle is exact cents on the bounded
    // cohort-week × age grid; development factors and the ultimate
    // projection fold ≤4 factors in age order (sorted-fold discipline).
    // Matching runs on the bounded activity-score grid with integer
    // distances; every tie breaks by (distance, lower score, lower
    // user_id); ATT is one exact-cents mean.
    //
    // Scale shape: both keys aggregate the corpus once onto domain-bounded
    // grids (5×5 triangle; the per-user activity-count domain). The
    // matching windows run over the SCORE GRID (saturates with the
    // behavior domain, not corpus rows — the ks_test argument; ScaleSpec
    // allowlisted), never over users.

    // Chain-ladder: cohorts = first-event week (Jan 1/8/15/22/29), age =
    // event week − cohort week. Cumulative triangle C[w, k]; development
    // factor f_k = Σ_w C[w, k+1] / Σ_w C[w, k] over cohorts that HAVE
    // age k+1; ultimate = latest observed × Π remaining factors.
    "ts_chain_ladder" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"),
                  floor(datediff(col("ts").cast("date"),
                                 to_date(lit("2024-01-01"))) / 7)
                    .cast("bigint").as("wk"),
                  round(col("value") * 100).cast("bigint").as("c"))
        val cohortOf = ev.groupBy("user_id").agg(min(col("wk")).as("cw"))
        val tri = ev.join(cohortOf, "user_id")
          .groupBy(col("cw"), (col("wk") - col("cw")).as("age"))
          .agg(sum(col("c")).as("inc"))
        // cumulative within cohort over ≤5 ages (bounded window)
        val cum = tri.withColumn("cum",
          sum(col("inc")).over(Window.partitionBy("cw").orderBy("age")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // factor f_k from cohorts observed at BOTH k and k+1
        val pairs = cum.select(col("cw"), col("age"), col("cum"))
        val fk = pairs.as("a")
          .join(pairs.as("b"),
                col("a.cw") === col("b.cw") &&
                col("b.age") === col("a.age") + 1)
          .groupBy(col("a.age").as("k"))
          .agg(sum(col("a.cum")).as("den"), sum(col("b.cum")).as("num"))
          .select(col("k"),
                  (col("num").cast("double") / col("den").cast("double"))
                    .as("f"))
        val latest = cum
          .groupBy("cw")
          .agg(max(struct(col("age"), col("cum"))).as("l"))
          .select(col("cw"), col("l.age").as("last_age"),
                  col("l.cum").as("observed"))
        latest.join(broadcast(fk), col("k") >= col("last_age"), "left")
          .withColumn("cell",
            when(col("k").isNotNull, struct(col("k"), col("f"))))
          .groupBy("cw", "last_age", "observed")
          // collect_list skips NULL cells → mature cohorts fold the seed
          .agg(expr("aggregate(array_sort(collect_list(cell)), " +
                    "CAST(1.0 AS DOUBLE), (acc, x) -> acc * x.f)")
                 .as("dev"))
          .select(col("cw").as("cohort_week"), col("last_age"),
                  col("observed").as("observed_cents"),
                  round(col("observed").cast("double") * col("dev"), 2)
                    .as("ultimate_cents"))
          .orderBy("cohort_week")
      },
      Some("""WITH ev AS (
             |  SELECT user_id,
             |         (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
             |           // 7 AS wk,
             |         CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |cohort AS (SELECT user_id, min(wk) AS cw FROM ev GROUP BY user_id),
             |tri AS (SELECT cw, wk - cw AS age, sum(c) AS inc
             |        FROM ev JOIN cohort USING (user_id) GROUP BY 1, 2),
             |cum AS (SELECT cw, age,
             |               sum(inc) OVER (PARTITION BY cw ORDER BY age
             |                 ROWS UNBOUNDED PRECEDING) AS cum
             |        FROM tri),
             |fk AS (SELECT a.age AS k,
             |              CAST(sum(b.cum) AS DOUBLE)
             |                / CAST(sum(a.cum) AS DOUBLE) AS f
             |       FROM cum a JOIN cum b
             |         ON a.cw = b.cw AND b.age = a.age + 1
             |       GROUP BY 1),
             |latest AS (SELECT cw, max(age) AS last_age,
             |                  max_by(cum, age) AS observed
             |           FROM cum GROUP BY cw)
             |SELECT cw AS cohort_week, CAST(last_age AS BIGINT) AS last_age,
             |       CAST(observed AS BIGINT) AS observed_cents,
             |       round(CAST(observed AS DOUBLE) *
             |             list_reduce(
             |               list_prepend(1.0,
             |                 list(f ORDER BY k) FILTER (WHERE k IS NOT NULL)),
             |               (acc, x) -> acc * x), 2)
             |         AS ultimate_cents
             |FROM latest LEFT JOIN fk ON k >= last_age
             |GROUP BY cw, last_age, observed
             |ORDER BY cohort_week""".stripMargin)),

    // Propensity NN matching: score = pre-period (Jan 1-15) event count,
    // treatment = the minted user_id % 3 == 0 assignment (every fixture
    // user signs up at some point, so behavioral treatment would leave
    // an empty control pool — the minted arm keeps the matching
    // machinery honest and lets the spec assert near-zero imbalance),
    // outcome = post-period (Jan 16-30) spend.
    // Each treated user matches the control at the nearest score
    // (distance tie → lower score; within a score, the lowest-id
    // control represents it); ATT = mean(treated − matched outcome).
    // Matching-with-replacement on the bounded score grid.
    "agg_propensity_matching" -> Decl(
      (s, d) => {
        val mid = to_date(lit("2024-01-16"))
        val users = Tables.events(s, d)
          .groupBy("user_id")
          .agg(sum(when(col("ts").cast("date") < mid, 1L).otherwise(0L))
                 .as("score"),
               max(when(pmod(col("user_id"), lit(3L)) === 0, 1L).otherwise(0L))
                 .as("treated"),
               sum(when(col("ts").cast("date") >= mid,
                        round(col("value") * 100).cast("bigint"))
                     .otherwise(0L)).as("outcome"))
        val reps = users.filter(col("treated") === 0)
          .groupBy("score")
          .agg(min(struct(col("user_id"), col("outcome"))).as("rep"))
          .select(col("score").as("cs"), col("rep.outcome").as("c_outcome"))
        val grid = users.select(col("score")).distinct()
          .join(reps, col("score") === col("cs"), "left")
        val wAsc = Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wDesc = Window.orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val near = grid
          .withColumn("below_s", max(col("cs")).over(wAsc))
          .withColumn("below_o",
            last(when(col("cs").isNotNull, col("c_outcome")), ignoreNulls = true)
              .over(wAsc))
          .withColumn("above_s", min(col("cs")).over(wDesc))
          .withColumn("above_o",
            last(when(col("cs").isNotNull, col("c_outcome")), ignoreNulls = true)
              .over(wDesc))
          .select(col("score").as("gs"), col("below_s"), col("below_o"),
                  col("above_s"), col("above_o"))
        val matched = users.filter(col("treated") === 1)
          .join(broadcast(near), col("score") === col("gs"))
          .select(col("user_id"), col("score"), col("outcome"),
                  when(col("below_s").isNull, col("above_o"))
                    .when(col("above_s").isNull, col("below_o"))
                    .when(col("score") - col("below_s") <=
                          col("above_s") - col("score"), col("below_o"))
                    .otherwise(col("above_o")).as("m_outcome"),
                  when(col("below_s").isNull, col("above_s"))
                    .when(col("above_s").isNull, col("below_s"))
                    .when(col("score") - col("below_s") <=
                          col("above_s") - col("score"), col("below_s"))
                    .otherwise(col("above_s")).as("m_score"))
          .filter(col("m_outcome").isNotNull)
        matched.agg(
            count(lit(1)).as("n_matched"),
            sum(col("outcome")).as("so"), sum(col("m_outcome")).as("sm"),
            sum(col("score")).as("ss"), sum(col("m_score")).as("sms"))
          .select(col("n_matched"),
                  round(col("so").cast("double") / col("n_matched") / 100.0, 6)
                    .as("treated_mean"),
                  round(col("sm").cast("double") / col("n_matched") / 100.0, 6)
                    .as("matched_control_mean"),
                  round((col("so") - col("sm")).cast("double")
                          / col("n_matched") / 100.0, 6).as("att"),
                  round((col("ss") - col("sms")).cast("double")
                          / col("n_matched"), 6).as("score_imbalance"))
      },
      Some("""WITH users AS (
             |  SELECT user_id,
             |         sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
             |                  THEN 1 ELSE 0 END) AS score,
             |         max(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)
             |           AS treated,
             |         sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
             |                  THEN CAST(round(value * 100) AS BIGINT)
             |                  ELSE 0 END) AS outcome
             |  FROM events GROUP BY user_id),
             |reps AS (SELECT score AS cs,
             |                min(user_id) AS rid
             |         FROM users WHERE treated = 0 GROUP BY score),
             |repo AS (SELECT cs, outcome AS c_outcome
             |         FROM reps JOIN users ON users.user_id = reps.rid),
             |grid AS (SELECT DISTINCT u.score, repo.cs, repo.c_outcome
             |         FROM (SELECT DISTINCT score FROM users) u
             |         LEFT JOIN repo ON repo.cs = u.score),
             |near AS (
             |  SELECT score AS gs,
             |         max(cs) OVER wa AS below_s,
             |         last_value(CASE WHEN cs IS NOT NULL THEN c_outcome END
             |                    IGNORE NULLS) OVER wa AS below_o,
             |         min(cs) OVER wd AS above_s,
             |         last_value(CASE WHEN cs IS NOT NULL THEN c_outcome END
             |                    IGNORE NULLS) OVER wd AS above_o
             |  FROM grid
             |  WINDOW wa AS (ORDER BY score
             |                ROWS UNBOUNDED PRECEDING),
             |         wd AS (ORDER BY score DESC
             |                ROWS UNBOUNDED PRECEDING)),
             |matched AS (
             |  SELECT u.user_id, u.score, u.outcome,
             |         CASE WHEN below_s IS NULL THEN above_o
             |              WHEN above_s IS NULL THEN below_o
             |              WHEN u.score - below_s <= above_s - u.score
             |                THEN below_o ELSE above_o END AS m_outcome,
             |         CASE WHEN below_s IS NULL THEN above_s
             |              WHEN above_s IS NULL THEN below_s
             |              WHEN u.score - below_s <= above_s - u.score
             |                THEN below_s ELSE above_s END AS m_score
             |  FROM users u JOIN near ON near.gs = u.score
             |  WHERE u.treated = 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_matched,
             |       round(CAST(sum(outcome) AS DOUBLE) / count(*) / 100.0, 6)
             |         AS treated_mean,
             |       round(CAST(sum(m_outcome) AS DOUBLE) / count(*) / 100.0, 6)
             |         AS matched_control_mean,
             |       round(CAST(sum(outcome) - sum(m_outcome) AS DOUBLE)
             |             / count(*) / 100.0, 6) AS att,
             |       round(CAST(sum(score) - sum(m_score) AS DOUBLE)
             |             / count(*), 6) AS score_imbalance
             |FROM matched WHERE m_outcome IS NOT NULL""".stripMargin)),

    // Dynamic programming on bounded spines — dynamic
    // time warping between the daily purchase and click series (the
    // classical elastic-alignment distance; cost matrix is pure BIGINT so
    // the DP is exact) and 2-state HMM Viterbi decoding of the daily
    // high/low activity regime (the standard latent-regime smoother next
    // to the Kalman/Holt-Winters state-space keys).
    //
    // Determinism: DTW costs are |Δcount| integers — no float anywhere.
    // Viterbi runs in log space on integer observations × the same ln
    // constants; ties prefer the high state via >= in BOTH engines. Both
    // DPs recurse on the driver over the 30-day grid (the ts_holt_winters
    // discipline) and both oracles replay the identical recursion as
    // DuckDB recursive CTEs (DTW cell-by-cell with the rolling two-row
    // state; Viterbi carrying both candidate paths).
    //
    // Scale shape: each key reduces the corpus to the calendar-bounded
    // day grid in ONE aggregate; the DP itself is O(30²)/O(30) on
    // constant-size state. DTW over data-sized series would need the
    // banded/FastDTW variant — out of declared scope, documented here.

    "ts_dtw_distance" -> Decl(
      (s, d) => {
        def series(et: String): Array[Long] = {
          val daily = Tables.events(s, d)
            .filter(col("event_type") === et)
            .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                       .cast("bigint").as("t"))
            .agg(count(lit(1)).as("n"))
          s.range(1, 31).select(col("id").as("t"))
            .join(daily, Seq("t"), "left")
            .select(col("t"), coalesce(col("n"), lit(0L)).as("n"))
            .orderBy("t").collect().map(_.getLong(1))
        }
        val (a, b) = (series("purchase"), series("click"))
        val n = a.length
        var prev = new Array[Long](n)
        var cur = new Array[Long](n)
        var i = 0
        while (i < n) {
          var j = 0
          while (j < n) {
            val cost = math.abs(a(i) - b(j))
            cur(j) =
              if (i == 0 && j == 0) cost
              else if (i == 0) cost + cur(j - 1)
              else if (j == 0) cost + prev(0)
              else cost + math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
            j += 1
          }
          val t = prev; prev = cur; cur = t
          i += 1
        }
        val dtw = prev(n - 1)
        import s.implicits._
        Seq((n.toLong, dtw,
             BigDecimal(dtw.toDouble / (2 * n - 2))
               .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          .toDF("n", "dtw_cost", "cost_per_step")
      },
      Some("""WITH RECURSIVE
             |a AS (SELECT g.t, CAST(coalesce(d.n, 0) AS BIGINT) AS v
             |      FROM generate_series(1, 30) g(t)
             |      LEFT JOIN (SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |                 FROM events WHERE event_type = 'purchase'
             |                 GROUP BY 1) d
             |        ON date_diff('day', DATE '2023-12-31', d.day) = g.t),
             |b AS (SELECT g.t, CAST(coalesce(d.n, 0) AS BIGINT) AS v
             |      FROM generate_series(1, 30) g(t)
             |      LEFT JOIN (SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |                 FROM events WHERE event_type = 'click'
             |                 GROUP BY 1) d
             |        ON date_diff('day', DATE '2023-12-31', d.day) = g.t),
             |av AS (SELECT list(v ORDER BY t) AS l FROM a),
             |bv AS (SELECT list(v ORDER BY t) AS l FROM b),
             |dp(step, i, j, prev, cur) AS (
             |  SELECT 0, 1, 0, CAST(NULL AS BIGINT[]), CAST([] AS BIGINT[])
             |  UNION ALL
             |  SELECT step + 1, x.ni, x.nj, x.np,
             |         x.cc || [abs(av.l[x.ni] - bv.l[x.nj]) +
             |                  CASE WHEN x.ni = 1 AND x.nj = 1 THEN 0
             |                       WHEN x.ni = 1 THEN x.cc[x.nj - 1]
             |                       WHEN x.nj = 1 THEN x.np[1]
             |                       ELSE least(x.np[x.nj], x.np[x.nj - 1],
             |                                  x.cc[x.nj - 1])
             |                  END]
             |  FROM dp CROSS JOIN av CROSS JOIN bv,
             |       LATERAL (SELECT
             |           CASE WHEN dp.j = 30 THEN dp.i + 1 ELSE dp.i END AS ni,
             |           CASE WHEN dp.j = 30 THEN 1 ELSE dp.j + 1 END AS nj,
             |           CASE WHEN dp.j = 30 THEN dp.cur ELSE dp.prev END AS np,
             |           CASE WHEN dp.j = 30 THEN CAST([] AS BIGINT[])
             |                ELSE dp.cur END AS cc) x
             |  WHERE step < 900)
             |SELECT 30 AS n, cur[30] AS dtw_cost,
             |       round(CAST(cur[30] AS DOUBLE) / 58, 6) AS cost_per_step
             |FROM dp WHERE step = 900""".stripMargin)),

    // Viterbi decode of the daily high/low regime: obs y_t = (day's
    // purchase cents × 30 > total cents); emissions 0.7/0.25,
    // transitions 0.85/0.15/0.30/0.70, uniform init; ties prefer hi.
    "ts_hmm_viterbi" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(sum(round(col("value") * 100).cast("bigint")).as("c"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"), coalesce(col("c"), lit(0L)).as("c"))
          .orderBy("t").collect().map(_.getLong(1))
        val total = spine.sum
        val y = spine.map(c => if (c * 30L > total) 1 else 0)
        def lg(x: Double) = math.log(x)
        def e(hi: Boolean, obs: Int): Double =
          if (hi) { if (obs == 1) lg(0.7) else lg(0.3) }
          else { if (obs == 1) lg(0.25) else lg(0.75) }
        var vHi = lg(0.5) + e(hi = true, y(0))
        var vLo = lg(0.5) + e(hi = false, y(0))
        var pHi = List("hi"); var pLo = List("lo")
        (1 until 30).foreach { t =>
          val toHiFromHi = vHi + lg(0.85); val toHiFromLo = vLo + lg(0.30)
          val toLoFromHi = vHi + lg(0.15); val toLoFromLo = vLo + lg(0.70)
          val (nvHi, npHi) =
            if (toHiFromHi >= toHiFromLo) (e(hi = true, y(t)) + toHiFromHi, "hi" :: pHi)
            else (e(hi = true, y(t)) + toHiFromLo, "hi" :: pLo)
          val (nvLo, npLo) =
            if (toLoFromHi >= toLoFromLo) (e(hi = false, y(t)) + toLoFromHi, "lo" :: pHi)
            else (e(hi = false, y(t)) + toLoFromLo, "lo" :: pLo)
          vHi = nvHi; vLo = nvLo; pHi = npHi; pLo = npLo
        }
        val path = (if (vHi >= vLo) pHi else pLo).reverse
        import s.implicits._
        path.zipWithIndex.map { case (st, i) => (i + 1L, y(i), st) }
          .toDF("day", "obs", "state")
          .orderBy("day")
      },
      Some(s"""WITH RECURSIVE daily AS (
              |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
              |         sum(CAST(round(value * 100) AS BIGINT)) AS c
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |spine AS (SELECT g.t, coalesce(c, 0) AS c
              |          FROM generate_series(1, 30) g(t)
              |          LEFT JOIN daily ON daily.t = g.t),
              |tot AS (SELECT sum(c) AS tc FROM spine),
              |obs AS (SELECT t, CASE WHEN c * 30 > tot.tc THEN 1 ELSE 0 END AS y
              |        FROM spine CROSS JOIN tot),
              |ol AS (SELECT list(y ORDER BY t) AS l FROM obs),
              |vit(t, vhi, vlo, phi, plo) AS (
              |  SELECT 1,
              |         CAST(${lgs(0.5)} AS DOUBLE) +
              |           CASE WHEN ol.l[1] = 1 THEN CAST(${lgs(0.7)} AS DOUBLE)
              |                ELSE CAST(${lgs(0.3)} AS DOUBLE) END,
              |         CAST(${lgs(0.5)} AS DOUBLE) +
              |           CASE WHEN ol.l[1] = 1 THEN CAST(${lgs(0.25)} AS DOUBLE)
              |                ELSE CAST(${lgs(0.75)} AS DOUBLE) END,
              |         ['hi'], ['lo']
              |  FROM ol
              |  UNION ALL
              |  SELECT t + 1,
              |    (CASE WHEN ol.l[t + 1] = 1 THEN CAST(${lgs(0.7)} AS DOUBLE)
              |          ELSE CAST(${lgs(0.3)} AS DOUBLE) END) +
              |      greatest(vhi + CAST(${lgs(0.85)} AS DOUBLE),
              |               vlo + CAST(${lgs(0.30)} AS DOUBLE)),
              |    (CASE WHEN ol.l[t + 1] = 1 THEN CAST(${lgs(0.25)} AS DOUBLE)
              |          ELSE CAST(${lgs(0.75)} AS DOUBLE) END) +
              |      greatest(vhi + CAST(${lgs(0.15)} AS DOUBLE),
              |               vlo + CAST(${lgs(0.70)} AS DOUBLE)),
              |    (CASE WHEN vhi + CAST(${lgs(0.85)} AS DOUBLE) >=
              |               vlo + CAST(${lgs(0.30)} AS DOUBLE)
              |          THEN phi ELSE plo END) || ['hi'],
              |    (CASE WHEN vhi + CAST(${lgs(0.15)} AS DOUBLE) >=
              |               vlo + CAST(${lgs(0.70)} AS DOUBLE)
              |          THEN phi ELSE plo END) || ['lo']
              |  FROM vit CROSS JOIN ol WHERE t < 30),
              |fin AS (SELECT CASE WHEN vhi >= vlo THEN phi ELSE plo END AS p
              |        FROM vit WHERE t = 30)
              |SELECT u.pos AS day, ol.l[u.pos] AS obs, u.st AS state
              |FROM (SELECT unnest(p) AS st, generate_subscripts(p, 1) AS pos
              |      FROM fin) u CROSS JOIN ol
              |ORDER BY day""".stripMargin)),

    // Structural-break and k-group nonparametric
    // testing — the Chow test for a regression break between the first
    // and second half of the daily purchase series (the standard "did
    // the trend change at the known breakpoint?" screen: pooled-vs-split
    // OLS residual F-ratio, all three fits closed-form from one pass of
    // integer-exact sums) and the Kruskal-Wallis H test extending the
    // mann_whitney two-sample rank machinery to all five event types
    // (rank sums from the SAME bounded 2-dp value grid, ties handled by
    // average ranks and the classical tie correction).
    //
    // Determinism: Chow consumes only integer-exact sums (t ≤ 30, counts)
    // through identical IEEE expression trees. Kruskal-Wallis keeps ranks
    // exact by working in DOUBLED rank units (2·avgrank is an integer even
    // at .5 ties); the five per-group H terms fold in group order (sorted-
    // fold discipline) so the float association is pinned; tie terms
    // t³ − t stay BIGINT.
    //
    // Scale shape: Chow is one aggregate over the calendar spine. KW is
    // one grid groupBy + the allowlisted bounded-grid cumulative window +
    // a 5-row fold — the value DOMAIN saturates, not the corpus.

    // Chow test at the known mid-series breakpoint: fit y = a + b·t on
    // days 1–15, days 16–30, and pooled; F = ((RSSp − RSS1 − RSS2)/2) /
    // ((RSS1 + RSS2)/(n − 4)).
    "ts_chow_break_test" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("y"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t").cast("double").as("t"),
                  coalesce(col("y"), lit(0L)).cast("double").as("y"),
                  (col("t") <= 15).as("first_half"))
        def seg(pred: org.apache.spark.sql.Column, tag: String) = Seq(
          sum(when(pred, 1.0).otherwise(0.0)).as(s"n$tag"),
          sum(when(pred, col("t")).otherwise(0.0)).as(s"st$tag"),
          sum(when(pred, col("y")).otherwise(0.0)).as(s"sy$tag"),
          sum(when(pred, col("t") * col("t")).otherwise(0.0)).as(s"stt$tag"),
          sum(when(pred, col("t") * col("y")).otherwise(0.0)).as(s"sty$tag"),
          sum(when(pred, col("y") * col("y")).otherwise(0.0)).as(s"syy$tag"))
        val allAggs = seg(col("first_half"), "1") ++
          seg(!col("first_half"), "2") ++ seg(lit(true), "p")
        val sums = spine.agg(allAggs.head, allAggs.tail: _*)
        def fit(df: org.apache.spark.sql.DataFrame, tag: String) = df
          .withColumn(s"b$tag",
            (col(s"n$tag") * col(s"sty$tag") - col(s"st$tag") * col(s"sy$tag")) /
              (col(s"n$tag") * col(s"stt$tag") - col(s"st$tag") * col(s"st$tag")))
          .withColumn(s"a$tag",
            (col(s"sy$tag") - col(s"b$tag") * col(s"st$tag")) / col(s"n$tag"))
          .withColumn(s"rss$tag",
            col(s"syy$tag") - col(s"a$tag") * col(s"sy$tag") -
              col(s"b$tag") * col(s"sty$tag"))
        fit(fit(fit(sums, "1"), "2"), "p")
          .withColumn("chow_f",
            ((col("rssp") - col("rss1") - col("rss2")) / 2) /
              ((col("rss1") + col("rss2")) / (col("np") - 4)))
          .select(round(col("b1"), 6).as("slope_first"),
                  round(col("b2"), 6).as("slope_second"),
                  round(col("bp"), 6).as("slope_pooled"),
                  round(col("rss1"), 6).as("rss_first"),
                  round(col("rss2"), 6).as("rss_second"),
                  round(col("rssp"), 6).as("rss_pooled"),
                  round(col("chow_f"), 6).as("chow_f"),
                  (round(col("chow_f"), 6) > 3.369).as("structural_break"))
      },
      Some("""WITH daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         count(*) AS y
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (
             |  SELECT CAST(g.t AS DOUBLE) AS t,
             |         CAST(coalesce(y, 0) AS DOUBLE) AS y,
             |         g.t <= 15 AS fh
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |s AS (
             |  SELECT
             |    CAST(sum(CASE WHEN fh THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             |    sum(CASE WHEN fh THEN t ELSE 0.0 END) AS st1,
             |    sum(CASE WHEN fh THEN y ELSE 0.0 END) AS sy1,
             |    sum(CASE WHEN fh THEN t*t ELSE 0.0 END) AS stt1,
             |    sum(CASE WHEN fh THEN t*y ELSE 0.0 END) AS sty1,
             |    sum(CASE WHEN fh THEN y*y ELSE 0.0 END) AS syy1,
             |    CAST(sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
             |    sum(CASE WHEN NOT fh THEN t ELSE 0.0 END) AS st2,
             |    sum(CASE WHEN NOT fh THEN y ELSE 0.0 END) AS sy2,
             |    sum(CASE WHEN NOT fh THEN t*t ELSE 0.0 END) AS stt2,
             |    sum(CASE WHEN NOT fh THEN t*y ELSE 0.0 END) AS sty2,
             |    sum(CASE WHEN NOT fh THEN y*y ELSE 0.0 END) AS syy2,
             |    CAST(count(*) AS DOUBLE) AS np, sum(t) AS stp, sum(y) AS syp,
             |    sum(t*t) AS sttp, sum(t*y) AS styp, sum(y*y) AS syyp
             |  FROM spine),
             |f1 AS (SELECT *,
             |         (n1*sty1 - st1*sy1) / (n1*stt1 - st1*st1) AS b1,
             |         (n2*sty2 - st2*sy2) / (n2*stt2 - st2*st2) AS b2,
             |         (np*styp - stp*syp) / (np*sttp - stp*stp) AS bp
             |       FROM s),
             |f2 AS (SELECT *,
             |         (sy1 - b1*st1) / n1 AS a1,
             |         (sy2 - b2*st2) / n2 AS a2,
             |         (syp - bp*stp) / np AS ap
             |       FROM f1),
             |f3 AS (SELECT *,
             |         syy1 - a1*sy1 - b1*sty1 AS rss1,
             |         syy2 - a2*sy2 - b2*sty2 AS rss2,
             |         syyp - ap*syp - bp*styp AS rssp
             |       FROM f2),
             |f4 AS (SELECT *,
             |         ((rssp - rss1 - rss2) / 2) / ((rss1 + rss2) / (np - 4))
             |           AS chow_f
             |       FROM f3)
             |SELECT round(b1, 6) AS slope_first,
             |       round(b2, 6) AS slope_second,
             |       round(bp, 6) AS slope_pooled,
             |       round(rss1, 6) AS rss_first,
             |       round(rss2, 6) AS rss_second,
             |       round(rssp, 6) AS rss_pooled,
             |       round(chow_f, 6) AS chow_f,
             |       round(chow_f, 6) > 3.369 AS structural_break
             |FROM f4""".stripMargin)),

    // Kruskal-Wallis H over all five event types' value distributions:
    // doubled average ranks off the 2-dp grid keep everything BIGINT
    // until the 5-term fold; the tie-corrected H = H / (1 − Σ(t³−t)/(N³−N)).
    "agg_kruskal_wallis" -> Decl(
      (s, d) => {
        val w = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val grid = Tables.events(s, d)
          .select(round(col("value") * 100).cast("bigint").as("cents"),
                  col("event_type"))
          .groupBy("cents", "event_type").agg(count(lit(1)).as("cg"))
          .groupBy("cents")
          .agg(sum(col("cg")).as("ct"),
               collect_list(struct(col("event_type"), col("cg"))).as("parts"))
        val ranked = grid
          .withColumn("before", coalesce(sum(col("ct")).over(w), lit(0L)))
          // doubled average rank of every row at this value: integer
          .withColumn("dr", lit(2) * col("before") + col("ct") + 1)
          .select(col("ct"), col("dr"), explode(col("parts")).as("p"))
          .select(col("p.event_type").as("g"), col("p.cg").as("cg"),
                  col("dr"), col("ct"))
        val perGroup = ranked.groupBy("g")
          .agg(sum(col("cg")).as("ng"),
               sum(col("cg") * col("dr")).as("dr_sum")) // Σ 2·rank
        val tieTerm = grid.agg(
          sum(col("ct") * col("ct") * col("ct") - col("ct")).as("tie3"),
          sum(col("ct")).as("n"))
        perGroup
          .withColumn("term",
            (col("dr_sum").cast("double") / 2) *
              (col("dr_sum").cast("double") / 2) / col("ng"))
          .agg(expr("round(aggregate(array_sort(collect_list(struct(g, term))), " +
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term), 6)")
                 .as("rterm"),
               count(lit(1)).as("k_groups"))
          .crossJoin(broadcast(tieTerm))
          .withColumn("h",
            lit(12.0) / (col("n") * (col("n") + 1)) * col("rterm") -
              lit(3) * (col("n") + 1))
          .withColumn("c",
            lit(1.0) - col("tie3").cast("double") /
              (col("n").cast("double") * col("n") * col("n") - col("n")))
          .select(col("k_groups"), col("n").cast("bigint").as("n"),
                  round(col("h"), 6).as("h_raw"),
                  round(col("c"), 6).as("tie_correction"),
                  round(col("h") / col("c"), 6).as("h_adj"),
                  (round(col("h") / col("c"), 6) > 9.488).as("reject_h0"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_type
             |  FROM events),
             |cell AS (SELECT cents, event_type, count(*) AS cg
             |         FROM ev GROUP BY cents, event_type),
             |grid AS (SELECT cents, sum(cg) AS ct FROM cell GROUP BY cents),
             |r AS (SELECT cents, ct,
             |        coalesce(sum(ct) OVER (ORDER BY cents
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          AS before
             |      FROM grid),
             |ranked AS (
             |  SELECT cell.event_type AS g, cell.cg,
             |         2 * r.before + r.ct + 1 AS dr
             |  FROM cell JOIN r USING (cents)),
             |pg AS (SELECT g, sum(cg) AS ng, sum(cg * dr) AS dr_sum
             |       FROM ranked GROUP BY g),
             |tt AS (SELECT sum(ct*ct*ct - ct) AS tie3, sum(ct) AS n FROM grid),
             |agg AS (
             |  SELECT round(list_sum(list(
             |           (CAST(dr_sum AS DOUBLE) / 2) *
             |           (CAST(dr_sum AS DOUBLE) / 2) / ng ORDER BY g)), 6)
             |           AS rterm,
             |         count(*) AS k_groups
             |  FROM pg),
             |h AS (
             |  SELECT k_groups, n,
             |         12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rterm - 3 * (n + 1)
             |           AS h,
             |         1.0 - CAST(tie3 AS DOUBLE) /
             |               (CAST(n AS DOUBLE) * n * n - n) AS c
             |  FROM agg CROSS JOIN tt)
             |SELECT k_groups, CAST(n AS BIGINT) AS n,
             |       round(h, 6) AS h_raw,
             |       round(c, 6) AS tie_correction,
             |       round(h / c, 6) AS h_adj,
             |       round(h / c, 6) > 9.488 AS reject_h0
             |FROM h""".stripMargin)),

    // Intermittent-demand forecasting and scale-free
    // forecast evaluation — Croston's method (the classical
    // sparse-demand smoother: separate exponential smoothing of demand
    // SIZES and demand INTERVALS, forecast = size/interval; the standard
    // tool when most periods sell zero) on the deterministically sparse
    // high-value purchase series, and MASE + sMAPE for the 7-day seasonal-
    // naive forecast (the two scale-free metrics that let forecast error
    // compare across series of different volume).
    //
    // Determinism: Croston's α = 0.2 recursion runs on the driver over
    // the 30-day grid (the ts_holt_winters discipline) and the oracle
    // replays the identical recursion as a DuckDB recursive CTE carrying
    // (z, x, last-seen) — same literals, same operation order, identical
    // doubles. MASE is a ratio of integer |error| sums (exact); sMAPE
    // folds its 23 bounded per-day terms in day order.
    //
    // Scale shape: both keys reduce the corpus to the calendar spine in
    // one aggregate; the recursions/folds run on ≤30 rows.

    // Croston (α = 0.2): demand d_t = daily purchases of the sparse
    // user_id ≡ 3 (mod 997) cohort — a genuinely intermittent series
    // (roughly half the days sell zero at small SFs). On demand days: z ← αd + (1−α)z,
    // x ← αq + (1−α)x where q = periods since the previous demand;
    // initialized at the first demand (z = d, x = q = first index).
    "ts_croston_intermittent" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase" &&
                  pmod(col("user_id"), lit(997L)) === 3)
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("dd"))
        val dArr = {
          val m = daily.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          (1 to 30).map(t => m.getOrElse(t.toLong, 0L)).toArray
        }
        var z = 0.0; var x = 0.0; var last = 0; var seen = false
        val rows = (1 to 30).map { t =>
          val dt = dArr(t - 1)
          if (dt > 0) {
            val q = (t - last).toDouble
            if (!seen) { z = dt.toDouble; x = q; seen = true }
            else { z = A * dt + B * z; x = A * q + B * x }
            last = t
          }
          val f = if (seen) z / x else 0.0
          (t.toLong, dt,
           BigDecimal(if (seen) z else 0.0)
             .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
           BigDecimal(if (seen) x else 0.0)
             .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
           BigDecimal(f).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        import s.implicits._
        rows.toDF("t", "demand", "z_size", "x_interval", "croston_forecast")
          .orderBy("t")
      },
      Some(s"""WITH RECURSIVE daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         count(*) AS dd
             |  FROM events
             |  WHERE event_type = 'purchase' AND user_id % 997 = 3
             |  GROUP BY 1),
             |spine AS (
             |  SELECT g.t, CAST(coalesce(dd, 0) AS BIGINT) AS dd
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |dl AS (SELECT list(dd ORDER BY t) AS l FROM spine),
             |cr(t, z, x, last_t, seen) AS (
             |  SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), 0, false FROM dl
             |  UNION ALL
             |  SELECT t + 1,
             |    CASE WHEN dl.l[t + 1] = 0 THEN z
             |         WHEN NOT seen THEN CAST(dl.l[t + 1] AS DOUBLE)
             |         ELSE CAST($A AS DOUBLE) * dl.l[t + 1] + CAST($B AS DOUBLE) * z END,
             |    CASE WHEN dl.l[t + 1] = 0 THEN x
             |         WHEN NOT seen THEN CAST(t + 1 - last_t AS DOUBLE)
             |         ELSE CAST($A AS DOUBLE) * (t + 1 - last_t) + CAST($B AS DOUBLE) * x END,
             |    CASE WHEN dl.l[t + 1] = 0 THEN last_t ELSE t + 1 END,
             |    seen OR dl.l[t + 1] > 0
             |  FROM cr CROSS JOIN dl WHERE t < 30)
             |SELECT cr.t AS t, dl.l[cr.t] AS demand,
             |       round(CASE WHEN seen THEN z ELSE 0.0 END, 6) AS z_size,
             |       round(CASE WHEN seen THEN x ELSE 0.0 END, 6) AS x_interval,
             |       round(CASE WHEN seen THEN z / x ELSE 0.0 END, 6)
             |         AS croston_forecast
             |FROM cr CROSS JOIN dl WHERE cr.t >= 1
             |ORDER BY t""".stripMargin)),

    // Seasonal-naive (lag-7) forecast of daily purchases evaluated on
    // days 8–30: MASE scales its MAE by the in-sample lag-1 naive MAE
    // (days 2–30); sMAPE folds day-ordered.
    "ts_forecast_mase_smape" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("y"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"), coalesce(col("y"), lit(0L)).as("y"))
        val j = spine.as("c")
          .join(spine.as("s7"), col("s7.t") === col("c.t") - 7)
          .select(col("c.t").as("t"), col("c.y").as("y"),
                  col("s7.y").as("f"))
        val naive = spine.as("c")
          .join(spine.as("s1"), col("s1.t") === col("c.t") - 1)
          .agg(sum(abs(col("c.y") - col("s1.y"))).as("naive_ae"),
               count(lit(1)).as("n_naive"))
        val fcst = j.agg(
          sum(abs(col("y") - col("f"))).as("fc_ae"),
          count(lit(1)).as("n_fc"),
          expr("round(aggregate(array_sort(collect_list(struct(t, " +
               "(CASE WHEN y + f = 0 THEN CAST(0.0 AS DOUBLE) " +
               "ELSE CAST(2 AS DOUBLE) * abs(y - f) / (y + f) END) AS sm))), " +
               "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.sm), 6)")
            .as("smape_sum"))
        fcst.crossJoin(broadcast(naive))
          .select(col("n_fc").cast("bigint").as("n_eval"),
                  round(col("fc_ae").cast("double") / col("n_fc"), 6)
                    .as("forecast_mae"),
                  round((col("fc_ae").cast("double") / col("n_fc")) /
                          (col("naive_ae").cast("double") / col("n_naive")), 6)
                    .as("mase"),
                  round(col("smape_sum") / col("n_fc"), 6).as("smape"))
      },
      Some("""WITH daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         count(*) AS y
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (
             |  SELECT g.t, CAST(coalesce(y, 0) AS BIGINT) AS y
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |j AS (SELECT c.t, c.y, s7.y AS f
             |      FROM spine c JOIN spine s7 ON s7.t = c.t - 7),
             |naive AS (SELECT sum(abs(c.y - s1.y)) AS naive_ae,
             |                 count(*) AS n_naive
             |          FROM spine c JOIN spine s1 ON s1.t = c.t - 1),
             |fc AS (SELECT sum(abs(y - f)) AS fc_ae, count(*) AS n_fc,
             |              round(list_sum(list(
             |                CASE WHEN y + f = 0 THEN CAST(0.0 AS DOUBLE)
             |                     ELSE CAST(2 AS DOUBLE) * abs(y - f) / (y + f) END
             |                ORDER BY t)), 6) AS smape_sum
             |       FROM j)
             |SELECT CAST(n_fc AS BIGINT) AS n_eval,
             |       round(CAST(fc_ae AS DOUBLE) / n_fc, 6) AS forecast_mae,
             |       round((CAST(fc_ae AS DOUBLE) / n_fc) /
             |             (CAST(naive_ae AS DOUBLE) / n_naive), 6) AS mase,
             |       round(smape_sum / n_fc, 6) AS smape
             |FROM fc CROSS JOIN naive""".stripMargin)),

    // Rolling-window distinct users (the DAU/WAU
    // problem), market-basket association rules, inter-purchase gap
    // histogram, and URL-slug normalization.

    // Rolling 24-hour distinct users per hour — the product-analytics DAU
    // curve, and the canonical "rolling distinct doesn't merge" problem.
    // The scale path: collapse the corpus ONCE to distinct (user, hour)
    // pairs (bounded by active-users × hours, not events), fan each pair
    // out to the ≤24 anchor hours it can serve via a generated sequence
    // (bounded 24× expansion of the bounded table — never a range join's
    // nested loop), keep anchors that are REAL observed hours, and
    // count-distinct per anchor. Output is one row per observed hour.
    "ts_rolling_dau" -> Decl(
      (s, d) => {
        val uh = Tables.events(s, d)
          .select(col("user_id"), expr("unix_micros(ts) div 3600000000L").as("hr"))
          .distinct()
        val anchors = uh.select(col("hr").as("a")).distinct()
        uh.select(col("user_id"),
                  explode(expr("sequence(hr, hr + 23L)")).as("a"))
          .join(anchors, "a")
          .groupBy("a")
          .agg(countDistinct(col("user_id")).as("dau24"))
          .select(col("a").as("hr"), col("dau24"))
          .orderBy("hr")
      },
      Some("""WITH uh AS (SELECT DISTINCT user_id,
             |              epoch_us(ts) // 3600000000 AS hr
             |            FROM events),
             |anchors AS (SELECT DISTINCT hr AS a FROM uh)
             |SELECT a AS hr,
             |       CAST(count(DISTINCT user_id) AS BIGINT) AS dau24
             |FROM anchors JOIN uh
             |  ON uh.hr BETWEEN anchors.a - 23 AND anchors.a
             |GROUP BY a ORDER BY hr""".stripMargin)),

    // Market-basket association rules — support / confidence / lift for
    // the 10 most frequent part pairs bought in the same order. Pair
    // generation is the within-order self-join (fan-out bounded by
    // basket size squared — baskets are small at any corpus scale, so
    // the pair space is O(orders), not O(parts²)); per-part supports
    // aggregate once and broadcast onto the 10 surviving rows. Supports
    // are exact BIGINTs; confidence and lift are each one fixed double
    // tree rounded to 6 dp.
    "agg_assoc_rules" -> Decl(
      (s, d) => {
        val items = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint(true)
        val nOrders = items.select(countDistinct(col("ok")).as("n_orders"))
        val supp = items.groupBy("pk").agg(count(lit(1)).as("supp"))
        val top = items.as("x")
          .join(items.as("y"),
                col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
          .agg(count(lit(1)).as("supp_ab"))
          .orderBy(col("supp_ab").desc, col("a"), col("b"))
          .limit(10)
        broadcast(broadcast(top)
            .join(supp.select(col("pk").as("a"), col("supp").as("supp_a")), "a"))
          .join(supp.select(col("pk").as("b"), col("supp").as("supp_b")), "b")
          .crossJoin(broadcast(nOrders))
          .select(col("a"), col("b"), col("supp_ab"), col("supp_a"), col("supp_b"),
                  round(col("supp_ab").cast("double") / col("supp_a").cast("double"), 6)
                    .as("confidence"),
                  round((col("supp_ab") * col("n_orders")).cast("double") /
                        (col("supp_a") * col("supp_b")).cast("double"), 6).as("lift"))
          .orderBy(col("supp_ab").desc, col("a"), col("b"))
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |               FROM lineitem),
             |n AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
             |supp AS (SELECT pk, count(*) AS supp FROM items GROUP BY pk),
             |top AS (SELECT x.pk AS a, y.pk AS b, count(*) AS supp_ab
             |        FROM items x JOIN items y
             |          ON x.ok = y.ok AND x.pk < y.pk
             |        GROUP BY x.pk, y.pk
             |        ORDER BY supp_ab DESC, a, b LIMIT 10)
             |SELECT a, b, CAST(supp_ab AS BIGINT) AS supp_ab,
             |       CAST(sa.supp AS BIGINT) AS supp_a,
             |       CAST(sb.supp AS BIGINT) AS supp_b,
             |       round(CAST(supp_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE), 6)
             |         AS confidence,
             |       round(CAST(supp_ab * n.n_orders AS DOUBLE) /
             |             CAST(sa.supp * sb.supp AS DOUBLE), 6) AS lift
             |FROM top JOIN supp sa ON sa.pk = top.a
             |         JOIN supp sb ON sb.pk = top.b
             |         CROSS JOIN n
             |ORDER BY supp_ab DESC, a, b""".stripMargin)),

    // Inter-purchase gap histogram — the repeat-behavior distribution:
    // days between a customer's consecutive orders (lag over order date
    // with the unique-key tie-break), bucketed into capped weeks. Dates
    // ride as integer day diffs end to end; the histogram is bounded (13
    // buckets) at any scale, and the one window partitions by
    // high-cardinality o_custkey.
    "ts_interpurchase_hist" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("dt").asc, col("o_orderkey").asc)
        Tables(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
                  col("o_orderdate").cast("date").as("dt"))
          .withColumn("prev", lag(col("dt"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(least(floor(datediff(col("dt"), col("prev")) / 7).cast("bigint"),
                        lit(12L)).as("gap_weeks"))
          .groupBy("gap_weeks")
          .agg(count(lit(1)).as("n"))
          .orderBy("gap_weeks")
      },
      Some("""WITH p AS (
             |  SELECT CAST(o_orderdate AS DATE) AS dt,
             |         lag(CAST(o_orderdate AS DATE)) OVER w AS prev
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_custkey
             |               ORDER BY CAST(o_orderdate AS DATE) ASC,
             |                        o_orderkey ASC)),
             |g AS (SELECT least(CAST(floor(date_diff('day', prev, dt) / 7)
             |                        AS BIGINT), 12) AS gap_weeks
             |      FROM p WHERE prev IS NOT NULL)
             |SELECT gap_weeks, CAST(count(*) AS BIGINT) AS n
             |FROM g GROUP BY gap_weeks ORDER BY gap_weeks""".stripMargin)),

    // URL-slug normalization — the id/path-minting string pass of web
    // pipelines: lowercase, collapse every non-alphanumeric run to one
    // hyphen, strip edge hyphens. Pure per-row regex projection (patterns
    // in the Java∩RE2 subset), rides the scan at any scale.
    "scalar_slugify" -> Decl(
      (s, d) => {
        Tables(s, d, "part")
          .select(col("p_partkey"),
                  regexp_replace(regexp_replace(lower(col("p_name")),
                                                "[^a-z0-9]+", "-"),
                                 "^-+|-+$", "").as("slug"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
             |  regexp_replace(regexp_replace(lower(p_name),
             |                                '[^a-z0-9]+', '-', 'g'),
             |                 '^-+|-+$', '', 'g') AS slug
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Forecast-accuracy evaluation (WAPE against a
    // seasonal-persistence baseline), binary codec round-trips, and the
    // Wald–Wolfowitz runs test for series randomness.

    // Forecast evaluation — WAPE of the lag-24 seasonal-persistence
    // baseline (ŷ_t = y_{t−24}) over the hourly click series: the
    // backtest metric every forecasting pipeline reports. The alignment
    // is one equi self-join on the bounded hourly grid (hr = hr − 24);
    // Σ|err| and Σy are exact BIGINTs and the WAPE ships as integer ppm
    // via the R14 arithmetic half-away rounding — no engine round() on a
    // per-metric ratio.
    "ts_forecast_wape" -> Decl(
      (s, d) => {
        val g = Tables.events(s, d)
          .filter(col("event_type") === "click")
          .select(expr("unix_micros(ts) div 3600000000L").as("hr"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .groupBy("hr").agg(sum(col("c")).as("y"))
        val f = g.select(col("hr").as("fhr"), col("y").as("yhat"))
        g.join(f, col("hr") === col("fhr") + 24)
          .agg(count(lit(1)).as("n"),
               sum(abs(col("y") - col("yhat"))).as("sum_abs_err"),
               sum(col("y")).as("sum_y"))
          .select(col("n"), col("sum_abs_err"), col("sum_y"),
                  expr("(sum_abs_err * 2000000L + sum_y) div (sum_y * 2)")
                    .as("wape_ppm"))
      },
      Some("""WITH g AS (SELECT epoch_us(ts) // 3600000000 AS hr,
             |             sum(CAST(round(value * 100) AS BIGINT)) AS y
             |           FROM events WHERE event_type = 'click' GROUP BY 1),
             |j AS (SELECT g.y, f.y AS yhat
             |      FROM g JOIN g f ON g.hr = f.hr + 24)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(abs(y - yhat)) AS BIGINT) AS sum_abs_err,
             |       CAST(sum(y) AS BIGINT) AS sum_y,
             |       CAST((sum(abs(y - yhat)) * 2000000 + sum(y)) //
             |            (sum(y) * 2) AS BIGINT) AS wape_ppm
             |FROM j""".stripMargin)),

    // Binary codec round-trips — the base64/hex encode-decode surface of
    // any ingestion layer (opaque payload transport, content addressing):
    // per part, the base64 transport form, the hex of the 4-byte prefix,
    // and a decode-identity flag that PROVES the round-trip on every row
    // (ok = 1 everywhere is asserted in spec, and hashed by the oracle).
    // Pure per-row projections riding the scan.
    "scalar_codec_roundtrip" -> Decl(
      (s, d) => {
        Tables(s, d, "part")
          .select(col("p_partkey"),
                  base64(encode(col("p_name"), "UTF-8")).as("b64"),
                  hex(encode(substring(col("p_name"), 1, 4), "UTF-8")).as("hex4"),
                  when(decode(unbase64(base64(encode(col("p_name"), "UTF-8"))), "UTF-8")
                         === col("p_name"), 1L).otherwise(0L).as("ok"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
             |  to_base64(encode(p_name)) AS b64,
             |  hex(encode(substr(p_name, 1, 4))) AS hex4,
             |  CAST(CASE WHEN decode(from_base64(to_base64(encode(p_name))))
             |              = p_name THEN 1 ELSE 0 END AS BIGINT) AS ok
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Wald–Wolfowitz runs test — is the hourly click series random around
    // its median, or trending/alternating? Median is the LOWER median by
    // integer rank on the bounded hourly grid (no interpolation); ties on
    // the median are dropped (the classic treatment); the run count is
    // one lag comparison over the bounded grid (aggregate-fed window);
    // and the z-statistic is one fixed double tree from three exact
    // BIGINTs (n1, n2, runs), rounded to 6 dp.
    "agg_runs_test" -> Decl(
      (s, d) => {
        val g = Tables.events(s, d)
          .filter(col("event_type") === "click")
          .select(expr("unix_micros(ts) div 3600000000L").as("hr"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .groupBy("hr").agg(sum(col("c")).as("y"))
        val tot = g.agg(count(lit(1)).as("n"))
        val ranked = g.select(col("y"), col("hr"))
          .withColumn("rn", row_number().over(Window.orderBy("y", "hr")))
          .crossJoin(broadcast(tot))
        val med = ranked.filter(col("rn") * 2 <= col("n") + 1)
          .agg(max(col("y")).as("med"))
        val signed = g.crossJoin(broadcast(med))
          .filter(col("y") =!= col("med"))
          .select(col("hr"), when(col("y") > col("med"), 1L).otherwise(0L).as("s"))
        val w = Window.orderBy("hr")
        val runs = signed
          .select(col("s"), lag(col("s"), 1).over(w).as("prev"))
          .agg(sum(when(col("prev").isNull || col("s") =!= col("prev"), 1L)
                     .otherwise(0L)).as("runs"),
               sum(col("s")).as("n1"),
               sum(lit(1L) - col("s")).as("n2"))
        runs.select(col("n1"), col("n2"), col("runs"),
          round((col("runs").cast("double") -
                 (lit(2.0) * col("n1") * col("n2") /
                  (col("n1") + col("n2")).cast("double") + 1.0)) /
                sqrt((lit(2.0) * col("n1") * col("n2") *
                      (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2"))) /
                     ((col("n1") + col("n2")).cast("double") *
                      (col("n1") + col("n2")).cast("double") *
                      (col("n1") + col("n2") - 1).cast("double"))), 6).as("z"))
      },
      Some("""WITH g AS (SELECT epoch_us(ts) // 3600000000 AS hr,
             |             sum(CAST(round(value * 100) AS BIGINT)) AS y
             |           FROM events WHERE event_type = 'click' GROUP BY 1),
             |rk AS (SELECT y, row_number() OVER (ORDER BY y, hr) AS rn,
             |         count(*) OVER () AS n FROM g),
             |m AS (SELECT max(y) AS med FROM rk WHERE rn * 2 <= n + 1),
             |s AS (SELECT hr, CASE WHEN y > med THEN 1 ELSE 0 END AS s
             |      FROM g, m WHERE y <> med),
             |r AS (SELECT s, lag(s) OVER (ORDER BY hr) AS prev FROM s),
             |agg AS (SELECT
             |    CAST(sum(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END)
             |         AS BIGINT) AS runs,
             |    CAST(sum(s) AS BIGINT) AS n1,
             |    CAST(sum(1 - s) AS BIGINT) AS n2
             |  FROM r)
             |SELECT n1, n2, runs,
             |  round((CAST(runs AS DOUBLE) -
             |         (2.0 * n1 * n2 / CAST(n1 + n2 AS DOUBLE) + 1.0)) /
             |        sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) /
             |             (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) *
             |              CAST(n1 + n2 - 1 AS DOUBLE))), 6) AS z
             |FROM agg""".stripMargin)),

    // Discrete-time survival hazards, graph degree
    // assortativity, and the Lorenz concentration curve — each exact on a
    // bounded grid with at most one terminal float tree.

    // Discrete-time hazard — survival analysis without float products
    // (the Kaplan–Meier trap): per capped gap-week k, the hazard is
    // events(k) / at-risk(k) where at-risk is the reverse cumulative
    // count over the BOUNDED 13-week grid, so every quantity is an exact
    // BIGINT and the hazard ships as integer ppm (R14). Inputs are the
    // inter-purchase gaps (ts_interpurchase_hist's machinery). The
    // churn/retention readout of any subscription pipeline.
    "ts_discrete_hazard" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("dt").asc, col("o_orderkey").asc)
        val gaps = Tables(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
                  col("o_orderdate").cast("date").as("dt"))
          .withColumn("prev", lag(col("dt"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(least(floor(datediff(col("dt"), col("prev")) / 7).cast("bigint"),
                        lit(12L)).as("k"))
          .groupBy("k").agg(count(lit(1)).as("n_events"))
        val rev = Window.orderBy(col("k").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        gaps.select(col("k"), col("n_events"),
                    sum(col("n_events")).over(rev).as("n_at_risk"))
          .select(col("k"), col("n_at_risk"), col("n_events"),
                  expr("(n_events * 2000000L + n_at_risk) div (2 * n_at_risk)")
                    .as("hazard_ppm"))
          .orderBy("k")
      },
      Some("""WITH p AS (
             |  SELECT CAST(o_orderdate AS DATE) AS dt,
             |         lag(CAST(o_orderdate AS DATE)) OVER w AS prev
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_custkey
             |               ORDER BY CAST(o_orderdate AS DATE) ASC,
             |                        o_orderkey ASC)),
             |g AS (SELECT least(CAST(floor(date_diff('day', prev, dt) / 7)
             |                        AS BIGINT), 12) AS k,
             |        count(*) AS n_events
             |      FROM p WHERE prev IS NOT NULL GROUP BY 1),
             |r AS (SELECT k, n_events,
             |        sum(n_events) OVER (ORDER BY k DESC
             |                            ROWS UNBOUNDED PRECEDING) AS n_at_risk
             |      FROM g)
             |SELECT k, CAST(n_at_risk AS BIGINT) AS n_at_risk,
             |       CAST(n_events AS BIGINT) AS n_events,
             |       CAST((n_events * 2000000 + n_at_risk) // (2 * n_at_risk)
             |            AS BIGINT) AS hazard_ppm
             |FROM r ORDER BY k""".stripMargin)),

    // Degree assortativity — do high-degree nodes attach to high-degree
    // nodes? Pearson correlation of endpoint degrees over the
    // SYMMETRIZED edge list (both directions, the undirected convention)
    // of the deterministic kcore graph (ring + chords + core, bounded
    // degree by construction). Degrees are bounded ints, the six
    // sufficient sums are exact BIGINTs, and r is one fixed double tree
    // rounded to 6 dp (R11). One degree aggregate + two hash joins keyed
    // on the endpoints.
    "graph_assortativity" -> Decl(
      (s, d) => {
        val cust = Tables(s, d, "customer").select(col("c_custkey").as("u"))
        val nRow = cust.agg(max(col("u")).as("N"))
        val raw = cust.crossJoin(broadcast(nRow))
        val ed = raw
          .select(col("u"), (col("u") % col("N") + 1).as("x"))
          .unionByName(raw.filter(col("u") % 4 === 0)
            .select(col("u"), ((col("u") * 13 + 5) % col("N") + 1).as("x")))
          .unionByName(cust.filter(col("u") <= 20)
            .select(col("u"), (col("u") + 1).as("x")))
          .unionByName(cust.filter(col("u") <= 20)
            .select(col("u"), (col("u") + 2).as("x")))
          .unionByName(cust.filter(col("u") <= 20)
            .select(col("u"), (col("u") + 3).as("x")))
          .filter(col("u") =!= col("x"))
          .select(least(col("u"), col("x")).as("lo"),
                  greatest(col("u"), col("x")).as("hi"))
          .distinct()
          .localCheckpoint(true)
        val deg = ed.select(col("lo").as("v")).unionByName(ed.select(col("hi").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val sym = ed.select(col("lo").as("a"), col("hi").as("b"))
          .unionByName(ed.select(col("hi").as("a"), col("lo").as("b")))
          .join(deg.select(col("v").as("a"), col("deg").as("dx")), "a")
          .join(deg.select(col("v").as("b"), col("deg").as("dy")), "b")
        sym.agg(count(lit(1)).as("m"),
                sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
                sum(col("dx") * col("dx")).as("sxx"),
                sum(col("dy") * col("dy")).as("syy"),
                sum(col("dx") * col("dy")).as("sxy"))
          .select(col("m"),
            round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
               sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
              .as("assortativity"))
      },
      Some("""WITH n AS (SELECT max(c_custkey) AS N FROM customer),
             |raw AS (SELECT c_custkey AS u FROM customer),
             |ed AS (SELECT DISTINCT least(u, x) AS lo, greatest(u, x) AS hi FROM (
             |  SELECT u, (u % N) + 1 AS x FROM raw, n
             |  UNION ALL SELECT u, ((u*13+5) % N) + 1 FROM raw, n WHERE u % 4 = 0
             |  UNION ALL SELECT u, u + 1 FROM raw WHERE u <= 20
             |  UNION ALL SELECT u, u + 2 FROM raw WHERE u <= 20
             |  UNION ALL SELECT u, u + 3 FROM raw WHERE u <= 20
             |) WHERE u <> x),
             |deg AS (SELECT v, count(*) AS deg FROM
             |         (SELECT lo AS v FROM ed UNION ALL SELECT hi FROM ed)
             |        GROUP BY v),
             |sym AS (SELECT a, b FROM (SELECT lo AS a, hi AS b FROM ed
             |                          UNION ALL SELECT hi, lo FROM ed)),
             |j AS (SELECT da.deg AS dx, db.deg AS dy
             |      FROM sym JOIN deg da ON da.v = sym.a
             |               JOIN deg db ON db.v = sym.b),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS m,
             |         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
             |         CAST(sum(dy * dy) AS BIGINT) AS syy,
             |         CAST(sum(dx * dy) AS BIGINT) AS sxy
             |       FROM j)
             |SELECT m,
             |  round(CAST(m * sxy - sx * sy AS DOUBLE) /
             |        (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
             |         sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6) AS assortativity
             |FROM st""".stripMargin)),

    // Lorenz curve — cumulative revenue share of customer deciles, the
    // visual behind the Gini number (agg_gini_concentration). Deciles
    // come from VALUE thresholds on the bounded distinct-cents grid
    // (the percentile_disc machinery at q = 0.1 … 0.9, broadcast and
    // assigned by comparison — scan-parallel, never a global rank over
    // all customers); per-decile totals are exact BIGINTs and the
    // cumulative share ships as ppm over the 10-row grid.
    "agg_lorenz_curve" -> Decl(
      (s, d) => {
        val cust = Tables(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
        // The distinct-cents grid here is PER-CUSTOMER SUMS, which grow
        // ~|customers| (they don't saturate like a raw 2-dp value domain)
        // — so the cumulative count is the distributed two-pass prefix
        // sum, not an unpartitioned window (round-9 verdict family).
        val grid = cust.groupBy("cents").agg(count(lit(1)).as("w"))
        val tot = grid.agg(sum(col("w")).as("n"))
        val cum = PrefixSum.cumsumLong(grid, Seq(col("cents")), col("w"), "cum")
          .crossJoin(broadcast(tot))
        // threshold for decile d = smallest cents with 10·cum ≥ d·n
        val thresholds = cum
          .select(col("cents"), col("cum"), col("n"),
                  explode(expr("sequence(1L, 9L)")).as("dq"))
          .filter(col("cum") * 10 >= col("dq") * col("n"))
          .groupBy("dq").agg(min(col("cents")).as("thr"))
        val assigned = cust.crossJoin(broadcast(
            thresholds.groupBy().pivot("dq", (1 to 9).map(_.toString))
              .agg(first(col("thr")))))
          .select(col("cents"),
            (lit(1L) +
             (1 to 9).map(i => when(col(i.toString).isNotNull &&
                                    col("cents") > col(i.toString), 1L)
                                 .otherwise(0L))
               .reduce(_ + _)).as("decile"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("cents"))
        val cumD = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val total = assigned.agg(sum(col("cents")).as("all_cents"))
        assigned
          .select(col("decile"), col("n_cust"), col("cents"),
                  sum(col("cents")).over(cumD).as("cum_cents"))
          .crossJoin(broadcast(total))
          .select(col("decile"), col("n_cust"), col("cents"),
                  expr("(cum_cents * 2000000L + all_cents) div (2 * all_cents)")
                    .as("cum_share_ppm"))
          .orderBy("decile")
      },
      Some("""WITH cust AS (SELECT o_custkey,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1),
             |grid AS (SELECT cents, count(*) AS w FROM cust GROUP BY 1),
             |cum AS (SELECT cents,
             |          sum(w) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
             |          sum(w) OVER () AS n
             |        FROM grid),
             |thr AS (SELECT dq, min(cents) AS thr
             |        FROM cum, (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) q(dq)
             |        WHERE cum * 10 >= dq * n GROUP BY dq),
             |a AS (SELECT c.cents,
             |        1 + (SELECT count(*) FROM thr WHERE c.cents > thr.thr)
             |          AS decile
             |      FROM cust c),
             |g AS (SELECT decile, count(*) AS n_cust, sum(cents) AS cents
             |      FROM a GROUP BY 1),
             |f AS (SELECT decile, n_cust, cents,
             |        sum(cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |          AS cum_cents,
             |        sum(cents) OVER () AS all_cents
             |      FROM g)
             |SELECT CAST(decile AS BIGINT) AS decile,
             |       CAST(n_cust AS BIGINT) AS n_cust,
             |       CAST(cents AS BIGINT) AS cents,
             |       CAST((cum_cents * 2000000 + all_cents) // (2 * all_cents)
             |            AS BIGINT) AS cum_share_ppm
             |FROM f ORDER BY decile""".stripMargin)),

    // Similarity structure and change-points in the
    // daily series — a matrix profile over the 30-day purchase-cents
    // series (for every length-5 window: the distance to and index of
    // its nearest non-trivial neighbor; the global minimum pair is the
    // top MOTIF — the modern first tool for "does this series repeat
    // itself?"), and the Pettitt change-point test (rank-based CUSUM of
    // pairwise sign comparisons — the standard nonparametric "did the
    // level shift, and when?" answer, no distribution assumed).
    //
    // Determinism: the profile uses UN-normalized squared euclidean
    // distance on integer cents — every SSD is a BIGINT, argmin compares
    // integers with an explicit (ssd, j) tie-break. Pettitt's U_t is an
    // integer CUSUM of sign sums; the α=0.05 decision compares 6K²
    // against ln(2/α)·(n³+n²) with ln(40) interpolated as the SAME Scala
    // literal into both engines — no engine libm anywhere.
    //
    // Scale shape: both keys collapse the corpus to the ≤30-row calendar
    // spine in one aggregate; the window/pair fan-outs (26×26, 30×30)
    // are spine-bounded broadcasts, never data-sized.

    // Matrix profile, window w=5, exclusion zone |i−j| ≥ 3 (half a
    // window, the standard trivial-match guard). Output: one row per
    // window start i with its nearest neighbor and the integer SSD,
    // plus the is_motif flag on the two members of the global-minimum
    // pair.
    "ts_matrix_profile_motif" -> Decl(
      (s, d) => {
        val daily = dailyCents(s, d)
        // spine-bounded: 26 windows × 5 points
        val sub = daily
          .crossJoin(broadcast(s.range(5).select(col("id").as("k"))))
          .select((col("t") - col("k")).as("i"), col("k"), col("v"))
          .filter(col("i") >= 1 && col("i") <= 26)
        val ssd = sub.as("a")
          .join(sub.as("b"), col("a.k") === col("b.k") &&
                abs(col("a.i") - col("b.i")) >= 3)
          .groupBy(col("a.i").as("i"), col("b.i").as("j"))
          .agg(sum((col("a.v") - col("b.v")) * (col("a.v") - col("b.v")))
                 .as("ssd"))
        val prof = ssd.groupBy("i")
          .agg(min(struct(col("ssd"), col("j"))).as("nn"))
          .select(col("i"), col("nn.j").as("nn_j"), col("nn.ssd").as("ssd"))
        val motif = prof
          .agg(min(struct(col("ssd"), col("i"))).as("m"))
          .select(col("m.i").as("mi"), col("m.ssd").as("mssd"))
        prof.crossJoin(broadcast(motif))
          .select(col("i"), col("nn_j"), col("ssd"),
                  (col("ssd") === col("mssd") &&
                   (col("i") === col("mi") ||
                    col("nn_j") === col("mi"))).as("is_motif"))
          .orderBy("i")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT)
             |           AS t,
             |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |           AS v
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |sub AS (SELECT t - k AS i, k, v
             |        FROM daily CROSS JOIN (SELECT unnest(range(0, 5)) AS k)
             |        WHERE t - k BETWEEN 1 AND 26),
             |ssd AS (SELECT a.i AS i, b.i AS j,
             |               CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT)
             |                 AS ssd
             |        FROM sub a JOIN sub b
             |          ON a.k = b.k AND abs(a.i - b.i) >= 3
             |        GROUP BY a.i, b.i),
             |prof AS (SELECT i, j AS nn_j, ssd,
             |                row_number() OVER (PARTITION BY i
             |                                   ORDER BY ssd, j) AS rn
             |         FROM ssd),
             |p AS (SELECT i, nn_j, ssd FROM prof WHERE rn = 1),
             |motif AS (SELECT i AS mi, ssd AS mssd,
             |                 row_number() OVER (ORDER BY ssd, i) AS rn
             |          FROM p)
             |SELECT p.i, p.nn_j, p.ssd,
             |       (p.ssd = m.mssd AND (p.i = m.mi OR p.nn_j = m.mi))
             |         AS is_motif
             |FROM p CROSS JOIN (SELECT mi, mssd FROM motif WHERE rn = 1) m
             |ORDER BY p.i""".stripMargin)),

    // Pettitt test on daily purchase counts: S_t = Σ_j sgn(x_t − x_j)
    // from the 30×30 sign table, U_t = running sum of S_t, K = max|U_t|
    // at the FIRST attaining day. Decision: 6K² > ln(40)·(n³+n²).
    "ts_pettitt_test" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(count(lit(1)).as("x"))
        val st = daily.as("a").crossJoin(daily.as("b"))
          .groupBy(col("a.t").as("t"))
          .agg(sum(signum(col("a.x") - col("b.x")).cast("bigint")).as("s"))
        val w = Window.orderBy("t")
        val u = st.withColumn("u", sum(col("s")).over(w))
        val n = daily.agg(count(lit(1)).as("n"))
        u.crossJoin(broadcast(n))
          .groupBy("n")
          .agg(min(struct(negate(abs(col("u"))).as("nau"), col("t"),
                          abs(col("u")).as("au"))).as("best"))
          .select(col("n"),
                  col("best.t").as("t_star"),
                  col("best.au").as("k_stat"))
          .withColumn("reject_h0",
            lit(6.0) * col("k_stat") * col("k_stat") >
              lit(Ln40) * (col("n").cast("double") * col("n") * col("n") +
                           col("n") * col("n")))
          .select(col("n"), col("t_star"), col("k_stat"), col("reject_h0"))
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT)
              |           AS t,
              |         count(*) AS x
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |st AS (SELECT a.t AS t,
              |              CAST(sum(sign(a.x - b.x)) AS BIGINT) AS s
              |       FROM daily a CROSS JOIN daily b GROUP BY a.t),
              |u AS (SELECT t, CAST(sum(s) OVER (ORDER BY t) AS BIGINT) AS u
              |      FROM st),
              |nn AS (SELECT count(*) AS n FROM daily),
              |best AS (SELECT t, abs(u) AS au,
              |                row_number() OVER (ORDER BY abs(u) DESC, t)
              |                  AS rn
              |         FROM u)
              |SELECT nn.n, b.t AS t_star, b.au AS k_stat,
              |       6.0 * b.au * b.au >
              |         $Ln40 * (CAST(nn.n AS DOUBLE) * nn.n * nn.n +
              |                  nn.n * nn.n) AS reject_h0
              |FROM best b CROSS JOIN nn WHERE b.rn = 1""".stripMargin)),

    // The technical-analysis trio every market-data
    // stack ships — Wilder's RSI(14) (the bounded momentum oscillator:
    // smoothed average gain vs loss), MACD(12,26,9) (trend-following
    // crossover: fast EMA − slow EMA with a signal EMA and histogram),
    // and historical Value-at-Risk / Expected Shortfall (the loss
    // quantile and tail mean of the day-over-day change distribution) —
    // all on the daily purchase-cents close series.
    //
    // Determinism: the EMA/Wilder recursions run on the driver over the
    // bounded 30-day spine (the croston/holt_winters documented
    // driver-fixpoint class) and the oracles replay the IDENTICAL
    // recursion as recursive CTEs with the smoothing constants
    // interpolated as the same Scala literals into both engines. VaR/ES
    // are order statistics of INTEGER cent diffs (limit-k, no window) and
    // an exact tail mean.
    //
    // Scale shape: one corpus aggregate to the calendar spine per key;
    // recursions/folds touch ≤30 rows. VaR's order statistic is a
    // bounded limit-2 sort, not a data-sized window.

    // Wilder RSI(14): seed = simple mean of gains/losses over days
    // 2..15, then ag ← (13·ag + gain)/14. Rows t = 15..30.
    "window_rsi_wilder" -> Decl(
      (s, d) => {
        val c = dailyClose(s, d)
        val gains = (1 until 30).map(i => math.max(c(i) - c(i - 1), 0L))
        val losses = (1 until 30).map(i => math.max(c(i - 1) - c(i), 0L))
        var ag = gains.take(14).sum / 14.0
        var al = losses.take(14).sum / 14.0
        val rows = (15 to 30).map { t =>
          if (t > 15) {
            ag = W13 * ag + W1 * gains(t - 2)
            al = W13 * al + W1 * losses(t - 2)
          }
          val rsi = if (al == 0.0) 100.0 else 100.0 - 100.0 / (1.0 + ag / al)
          (t.toLong, c(t - 1), r6(ag), r6(al), r6(rsi))
        }
        import s.implicits._
        rows.toDF("t", "close_cents", "avg_gain", "avg_loss", "rsi")
          .orderBy("t")
      },
      Some(s"""WITH RECURSIVE daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (
             |  SELECT g.t, CAST(coalesce(c, 0) AS BIGINT) AS c
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |cl AS (SELECT list(c ORDER BY t) AS l FROM spine),
             |gl AS (SELECT list_transform(generate_series(2, 30),
             |                i -> greatest(l[i] - l[i-1], 0)) AS g,
             |              list_transform(generate_series(2, 30),
             |                i -> greatest(l[i-1] - l[i], 0)) AS lo,
             |              l
             |       FROM cl),
             |w(t, ag, al) AS (
             |  SELECT 15,
             |         CAST(list_sum(g[1:14]) AS DOUBLE) / 14.0,
             |         CAST(list_sum(lo[1:14]) AS DOUBLE) / 14.0
             |  FROM gl
             |  UNION ALL
             |  SELECT t + 1,
             |         CAST($W13 AS DOUBLE) * ag + CAST($W1 AS DOUBLE) * gl.g[t],
             |         CAST($W13 AS DOUBLE) * al + CAST($W1 AS DOUBLE) * gl.lo[t]
             |  FROM w CROSS JOIN gl WHERE t < 30)
             |SELECT w.t AS t, gl.l[w.t] AS close_cents,
             |       round(ag, 6) AS avg_gain, round(al, 6) AS avg_loss,
             |       round(CASE WHEN al = 0.0 THEN 100.0
             |                  ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6)
             |         AS rsi
             |FROM w CROSS JOIN gl
             |ORDER BY t""".stripMargin)),

    // MACD(12,26,9): EMAs seeded at day 1 (ema₁ = close₁, signal₁ =
    // macd₁); histogram = macd − signal. All 30 days.
    "window_macd_signal" -> Decl(
      (s, d) => {
        val c = dailyClose(s, d)
        var e12 = c(0).toDouble; var e26 = c(0).toDouble
        var sig = 0.0
        val rows = (1 to 30).map { t =>
          if (t > 1) {
            e12 = K12 * c(t - 1) + J12 * e12
            e26 = K26 * c(t - 1) + J26 * e26
          }
          val macd = e12 - e26
          if (t == 1) sig = macd else sig = K9 * macd + J9 * sig
          (t.toLong, c(t - 1), r6(e12), r6(e26), r6(macd), r6(sig),
           r6(macd - sig))
        }
        import s.implicits._
        rows.toDF("t", "close_cents", "ema12", "ema26", "macd", "signal",
                  "histogram")
          .orderBy("t")
      },
      Some(s"""WITH RECURSIVE daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (
             |  SELECT g.t, CAST(coalesce(c, 0) AS BIGINT) AS c
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |cl AS (SELECT list(c ORDER BY t) AS l FROM spine),
             |m(t, e12, e26, sig) AS (
             |  SELECT 1, CAST(l[1] AS DOUBLE), CAST(l[1] AS DOUBLE),
             |         CAST(l[1] AS DOUBLE) - CAST(l[1] AS DOUBLE)
             |  FROM cl
             |  UNION ALL
             |  SELECT t + 1,
             |         CAST($K12 AS DOUBLE) * cl.l[t+1] + CAST($J12 AS DOUBLE) * e12,
             |         CAST($K26 AS DOUBLE) * cl.l[t+1] + CAST($J26 AS DOUBLE) * e26,
             |         CAST($K9 AS DOUBLE) *
             |           (CAST($K12 AS DOUBLE) * cl.l[t+1] + CAST($J12 AS DOUBLE) * e12 -
             |            (CAST($K26 AS DOUBLE) * cl.l[t+1] + CAST($J26 AS DOUBLE) * e26)) +
             |         CAST($J9 AS DOUBLE) * sig
             |  FROM m CROSS JOIN cl WHERE t < 30)
             |SELECT m.t AS t, cl.l[m.t] AS close_cents,
             |       round(e12, 6) AS ema12, round(e26, 6) AS ema26,
             |       round(e12 - e26, 6) AS macd, round(sig, 6) AS signal,
             |       round(e12 - e26 - sig, 6) AS histogram
             |FROM m CROSS JOIN cl
             |ORDER BY t""".stripMargin)),

    // Historical VaR/ES on the 29 day-over-day cent changes: VaR95 =
    // −(2nd smallest), VaR99 = −(smallest), ES95 = −mean of the 2
    // smallest (exact .5-grid double). Order statistics via bounded
    // limit-k sorts — no data-sized window.
    "agg_value_at_risk" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(sum(round(col("value") * 100).cast("bigint")).as("c"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"), coalesce(col("c"), lit(0L)).as("c"))
        val rets = spine.as("a")
          .join(spine.as("b"), col("a.t") === col("b.t") + 1)
          .select((col("a.c") - col("b.c")).as("r"))
        val tail2 = rets.orderBy(col("r").asc).limit(2)
          .agg(count(lit(1)).as("k"),
               max(col("r")).as("second_min"),
               min(col("r")).as("first_min"),
               sum(col("r")).as("tail_sum"))
        rets.agg(count(lit(1)).as("n_rets"))
          .crossJoin(broadcast(tail2))
          .select(col("n_rets"),
                  (-col("second_min")).as("var95_cents"),
                  (-col("first_min")).as("var99_cents"),
                  round(-(col("tail_sum").cast("double") / col("k")), 6)
                    .as("es95_cents"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT)
             |           AS t,
             |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |           AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (
             |  SELECT g.t, CAST(coalesce(c, 0) AS BIGINT) AS c
             |  FROM generate_series(1, 30) g(t) LEFT JOIN daily ON daily.t = g.t),
             |rets AS (SELECT a.c - b.c AS r
             |         FROM spine a JOIN spine b ON a.t = b.t + 1),
             |tail2 AS (SELECT count(*) AS k,
             |                 max(r) AS second_min, min(r) AS first_min,
             |                 CAST(sum(r) AS BIGINT) AS tail_sum
             |          FROM (SELECT r FROM rets ORDER BY r ASC LIMIT 2)),
             |n AS (SELECT count(*) AS n_rets FROM rets)
             |SELECT n.n_rets,
             |       -second_min AS var95_cents,
             |       -first_min AS var99_cents,
             |       round(-(CAST(tail_sum AS DOUBLE) / k), 6) AS es95_cents
             |FROM n CROSS JOIN tail2""".stripMargin)),

    // Partial autocorrelation through lag 3 via the
    // Durbin-Levinson recursion over the hourly click series; Page-Hinkley
    // drift detection per event type (cumulative deviation from the running
    // mean over the bounded hourly spine); and SAX symbolization of each
    // (event_type, day) — z-normalized piecewise-aggregate segments mapped
    // to a 4-letter alphabet through the N(0,1) quartile breakpoints.

    // PACF φ11, φ22, φ33 by Durbin-Levinson over the per-lag Pearson
    // autocorrelations r1..r3 of the hourly click-count series (the
    // ts_autocorr estimator; each r_k is computed on the lag-k paired
    // hours). All doubles flow through ONE fixed expression tree — both
    // engines evaluate the identical IEEE sequence, so the twin is
    // hash-stable without any rounding of intermediates.
    "ts_pacf_lag3" -> Decl(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .filter(col("event_type") === "click")
          .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("cnt"))
        val lags = s.range(1, 4).select(col("id").as("lag"))
        val pairs = hourly.crossJoin(broadcast(lags))
          .join(broadcast(hourly.select(col("hr").as("hr2"),
                                        col("cnt").as("cnt2"))),
                col("hr2") === col("hr") + col("lag"))
          .select(col("lag"), col("cnt").as("x"), col("cnt2").as("y"))
        val r = pairs.groupBy("lag")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
               sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
               sum(col("x") * col("x")).as("sxx"),
               sum(col("y") * col("y")).as("syy"))
          .selectExpr("lag",
            """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
              |nullif(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              |       sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 0.0)
              |AS r""".stripMargin)
        r.agg(max(when(col("lag") === 1, col("r"))).as("r1"),
              max(when(col("lag") === 2, col("r"))).as("r2"),
              max(when(col("lag") === 3, col("r"))).as("r3"))
          .withColumn("p22", (col("r2") - col("r1") * col("r1")) /
                             (lit(1.0) - col("r1") * col("r1")))
          .withColumn("p21", col("r1") - col("p22") * col("r1"))
          .select(round(col("r1"), 6).as("pacf1"),
                  round(col("p22"), 6).as("pacf2"),
                  round((col("r3") - col("p21") * col("r2") -
                         col("p22") * col("r1")) /
                        (lit(1.0) - col("p21") * col("r1") -
                         col("p22") * col("r2")), 6).as("pacf3"))
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             |         count(*) AS cnt
             |  FROM events WHERE event_type = 'click' GROUP BY 1),
             |pairs AS (
             |  SELECT l.lag, a.cnt AS x, b.cnt AS y
             |  FROM hourly a
             |  CROSS JOIN (VALUES (1), (2), (3)) l(lag)
             |  JOIN hourly b ON b.hr = a.hr + l.lag),
             |st AS (SELECT lag, count(*) AS n,
             |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(x * y) AS BIGINT) AS sxy,
             |         CAST(sum(x * x) AS BIGINT) AS sxx,
             |         CAST(sum(y * y) AS BIGINT) AS syy
             |       FROM pairs GROUP BY lag),
             |rr AS (SELECT lag,
             |  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             |  nullif(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
             |         sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy),
             |         0.0) AS r
             |  FROM st),
             |piv AS (SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
             |               max(CASE WHEN lag = 2 THEN r END) AS r2,
             |               max(CASE WHEN lag = 3 THEN r END) AS r3
             |        FROM rr),
             |dl AS (SELECT r1, r2, r3,
             |              (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
             |       FROM piv),
             |dl2 AS (SELECT r1, r2, r3, p22,
             |               r1 - p22 * r1 AS p21 FROM dl)
             |SELECT round(r1, 6) AS pacf1, round(p22, 6) AS pacf2,
             |       round((r3 - p21 * r2 - p22 * r1) /
             |             (1.0 - p21 * r1 - p22 * r2), 6) AS pacf3
             |FROM dl2""".stripMargin)),

    // Page-Hinkley drift detector per event type over the hourly count
    // series: g_t = Σ_{i≤t} (x_i − mean_i), where mean_i is the RUNNING
    // mean — the classic sequential changepoint statistic (δ = 0). The
    // cumulations ride an ordered window over the per-type HOURLY spine
    // (calendar-bounded, the ts_durbin_watson class — declared in the
    // ScaleSpec allowlist); ordered accumulation makes the double sums
    // identical in both engines. Reported per type: the hour where the
    // PH range g_max − g_t peaks and the peak range itself.
    "ts_page_hinkley" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("hr")
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
                   expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("x"))
        val g = hourly
          .withColumn("cum_x", sum(col("x")).over(w))
          .withColumn("t", row_number().over(w))
          .withColumn("term",
            col("x").cast("double") -
              col("cum_x").cast("double") / col("t"))
          .withColumn("g", sum(col("term")).over(w))
          .withColumn("g_max", max(col("g")).over(w))
          .withColumn("ph", col("g_max") - col("g"))
        g.withColumn("mph",
            max(col("ph")).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("t_hours"),
               round(max(col("ph")), 6).as("ph_peak"),
               min(when(col("ph") === col("mph"), col("hr"))).as("peak_hr"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             |         count(*) AS x
             |  FROM events GROUP BY 1, 2),
             |g AS (
             |  SELECT event_type, hr,
             |         CAST(x AS DOUBLE) -
             |           CAST(CAST(sum(x) OVER w AS BIGINT) AS DOUBLE) /
             |           CAST(row_number() OVER w AS BIGINT) AS term
             |  FROM hourly
             |  WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
             |cumg AS (
             |  SELECT event_type, hr,
             |         sum(term) OVER w AS g
             |  FROM g
             |  WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
             |ph AS (
             |  SELECT event_type, hr,
             |         max(g) OVER w - g AS ph
             |  FROM cumg
             |  WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
             |mx AS (SELECT event_type, max(ph) AS mph,
             |              CAST(count(*) AS BIGINT) AS t_hours
             |       FROM ph GROUP BY event_type)
             |SELECT event_type, mx.t_hours,
             |       round(mx.mph, 6) AS ph_peak,
             |       CAST(min(CASE WHEN ph.ph = mx.mph THEN ph.hr END)
             |            AS BIGINT) AS peak_hr
             |FROM ph JOIN mx USING (event_type)
             |GROUP BY event_type, mx.t_hours, mx.mph
             |ORDER BY event_type""".stripMargin)),

    // SAX (symbolic aggregate approximation) of each (event_type, day):
    // the 24 hourly counts (absent hours = 0) are z-normalized against
    // the day's own mean/σ, averaged into four 6-hour PAA segments, and
    // each segment maps to {a,b,c,d} through the N(0,1) quartile
    // breakpoints ±0.6744897501960817 (literals — no data-dependent
    // libm). Every sum is an exact 24-term INTEGER, so both engines
    // derive the doubles from identical numerators; a zero-variance day
    // symbolizes as "mmmm" (mid). Output: one bounded row per
    // (type, day) — |types|·|days|, calendar-sized, never corpus-sized.
    "ts_sax_symbols" -> Decl(
      (s, d) => {
        val bp = 0.6744897501960817
        val hourly = Tables.events(s, d)
          .select(col("event_type"),
                  expr("unix_micros(ts) div 86400000000").as("day"),
                  expr("(unix_micros(ts) div 3600000000) % 24").as("hour"))
          .groupBy("event_type", "day", "hour")
          .agg(count(lit(1)).as("x"))
        def segSum(i: Int) =
          sum(when(col("hour") >= i * 6 && col("hour") < (i + 1) * 6,
                   col("x")).otherwise(0L))
        val daily = hourly.groupBy("event_type", "day")
          .agg(sum(col("x")).as("s1"),
               sum(col("x") * col("x")).as("s2"),
               segSum(0).as("q0"), segSum(1).as("q1"),
               segSum(2).as("q2"), segSum(3).as("q3"))
          // Missing hours contribute 0 to every sum, so n is always 24.
          .withColumn("mu", col("s1").cast("double") / 24)
          .withColumn("sigma",
            sqrt((col("s2").cast("double") -
                  col("s1").cast("double") * col("s1") / 24) / 24))
        def sym(q: String) = {
          val z = (col(q).cast("double") / 6 - col("mu")) /
                  when(col("sigma") > 0, col("sigma"))
          when(col("sigma") === 0, lit("m"))
            .when(z < -bp, "a").when(z < 0, "b")
            .when(z < bp, "c").otherwise("d")
        }
        daily.select(col("event_type"), col("day"),
            concat(sym("q0"), sym("q1"), sym("q2"), sym("q3")).as("sax"))
          .orderBy("event_type", "day")
      },
      Some(s"""WITH hourly AS (
             |  SELECT event_type,
             |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |         (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
             |           AS hour,
             |         count(*) AS x
             |  FROM events GROUP BY 1, 2, 3),
             |daily AS (
             |  SELECT event_type, day,
             |         CAST(sum(x) AS BIGINT) AS s1,
             |         CAST(sum(x * x) AS BIGINT) AS s2,
             |         CAST(sum(CASE WHEN hour BETWEEN 0 AND 5
             |                       THEN x ELSE 0 END) AS BIGINT) AS q0,
             |         CAST(sum(CASE WHEN hour BETWEEN 6 AND 11
             |                       THEN x ELSE 0 END) AS BIGINT) AS q1,
             |         CAST(sum(CASE WHEN hour BETWEEN 12 AND 17
             |                       THEN x ELSE 0 END) AS BIGINT) AS q2,
             |         CAST(sum(CASE WHEN hour BETWEEN 18 AND 23
             |                       THEN x ELSE 0 END) AS BIGINT) AS q3
             |  FROM hourly GROUP BY 1, 2),
             |norm AS (
             |  SELECT event_type, day, q0, q1, q2, q3,
             |         CAST(s1 AS DOUBLE) / 24 AS mu,
             |         sqrt((CAST(s2 AS DOUBLE) -
             |               CAST(s1 AS DOUBLE) * s1 / 24) / 24) AS sigma
             |  FROM daily)
             |SELECT event_type, CAST(day AS BIGINT) AS day,
             |       concat(
             |  CASE WHEN sigma = 0 THEN 'm'
             |       WHEN (CAST(q0 AS DOUBLE) / 6 - mu) / sigma
             |              < -0.6744897501960817 THEN 'a'
             |       WHEN (CAST(q0 AS DOUBLE) / 6 - mu) / sigma < 0 THEN 'b'
             |       WHEN (CAST(q0 AS DOUBLE) / 6 - mu) / sigma
             |              < 0.6744897501960817 THEN 'c' ELSE 'd' END,
             |  CASE WHEN sigma = 0 THEN 'm'
             |       WHEN (CAST(q1 AS DOUBLE) / 6 - mu) / sigma
             |              < -0.6744897501960817 THEN 'a'
             |       WHEN (CAST(q1 AS DOUBLE) / 6 - mu) / sigma < 0 THEN 'b'
             |       WHEN (CAST(q1 AS DOUBLE) / 6 - mu) / sigma
             |              < 0.6744897501960817 THEN 'c' ELSE 'd' END,
             |  CASE WHEN sigma = 0 THEN 'm'
             |       WHEN (CAST(q2 AS DOUBLE) / 6 - mu) / sigma
             |              < -0.6744897501960817 THEN 'a'
             |       WHEN (CAST(q2 AS DOUBLE) / 6 - mu) / sigma < 0 THEN 'b'
             |       WHEN (CAST(q2 AS DOUBLE) / 6 - mu) / sigma
             |              < 0.6744897501960817 THEN 'c' ELSE 'd' END,
             |  CASE WHEN sigma = 0 THEN 'm'
             |       WHEN (CAST(q3 AS DOUBLE) / 6 - mu) / sigma
             |              < -0.6744897501960817 THEN 'a'
             |       WHEN (CAST(q3 AS DOUBLE) / 6 - mu) / sigma < 0 THEN 'b'
             |       WHEN (CAST(q3 AS DOUBLE) / 6 - mu) / sigma
             |              < 0.6744897501960817 THEN 'c' ELSE 'd' END)
             |  AS sax
             |FROM norm ORDER BY event_type, day""".stripMargin)),

    // R/S (rescaled range) analysis of the hourly event
    // series at two block scales — the Hurst-exponent primitive, reported
    // as the per-block R/S ratios themselves (the log-log regression that
    // would estimate H needs data-dependent ln, which the determinism
    // discipline bans; the ratios are the distribution-engine-checkable
    // part and the exponent is one literal regression away for a user).

    // Per (scale ∈ {24h, 72h}, block): R = max−min of the running
    // deviation from the block mean, S = population σ of the block, both
    // from exact integer sums (cum, t, s1, s2 are BIGINTs; the only
    // doubles are the fixed per-row tree cum − t·s1/n and the final
    // (max−min)/σ). The cumulation windows partition on the CALENDAR
    // block id — bounded by time span, never by corpus rows. Blocks with
    // σ = 0 or fewer than 8 present hours are dropped (both engines
    // agree exactly on integer counts).
    "ts_hurst_rescaled_range" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, d)
          .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("x"))
        val scales = s.range(0, 2)
          .select(when(col("id") === 0, 24L).otherwise(72L).as("scale"))
        val blocks = hourly.crossJoin(broadcast(scales))
          .withColumn("block", expr("hr div scale"))
        val tot = blocks.groupBy("scale", "block")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
               sum(col("x") * col("x")).as("s2"))
          .filter(col("n") >= 8)
        val w = Window.partitionBy("scale", "block").orderBy("hr")
        val dev = blocks.join(tot, Seq("scale", "block"))
          .withColumn("cum", sum(col("x")).over(w))
          .withColumn("t", row_number().over(w).cast("bigint"))
          .withColumn("cumdev",
            col("cum").cast("double") -
              col("t").cast("double") * col("s1") / col("n"))
        dev.groupBy("scale", "block")
          .agg(first(col("n")).as("n_hours"),
               (max(col("cumdev")) - min(col("cumdev"))).as("r"),
               first(sqrt((col("s2").cast("double") -
                           col("s1").cast("double") * col("s1") / col("n"))
                          / col("n"))).as("sd"))
          .filter(col("sd") > 0)
          .select(col("scale"), col("block"), col("n_hours"),
                  round(col("r") / col("sd"), 6).as("rs"))
          .orderBy("scale", "block")
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             |         count(*) AS x
             |  FROM events GROUP BY 1),
             |blocks AS (
             |  SELECT s.scale, hr // s.scale AS block, hr, x
             |  FROM hourly CROSS JOIN (VALUES (24), (72)) s(scale)),
             |tot AS (
             |  SELECT scale, block, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(x) AS BIGINT) AS s1,
             |         CAST(sum(x * x) AS BIGINT) AS s2
             |  FROM blocks GROUP BY 1, 2
             |  HAVING count(*) >= 8),
             |dev AS (
             |  SELECT b.scale, b.block, t.n, t.s1, t.s2,
             |         CAST(CAST(sum(b.x) OVER w AS BIGINT) AS DOUBLE) -
             |           CAST(row_number() OVER w AS DOUBLE) *
             |           t.s1 / t.n AS cumdev
             |  FROM blocks b JOIN tot t USING (scale, block)
             |  WINDOW w AS (PARTITION BY b.scale, b.block ORDER BY b.hr)),
             |agg AS (
             |  SELECT scale, block, any_value(n) AS n_hours,
             |         max(cumdev) - min(cumdev) AS r,
             |         sqrt((CAST(any_value(s2) AS DOUBLE) -
             |               CAST(any_value(s1) AS DOUBLE) * any_value(s1) /
             |                 any_value(n)) / any_value(n)) AS sd
             |  FROM dev GROUP BY scale, block)
             |SELECT CAST(scale AS BIGINT) AS scale,
             |       CAST(block AS BIGINT) AS block, n_hours,
             |       round(r / sd, 6) AS rs
             |FROM agg WHERE sd > 0 ORDER BY scale, block""".stripMargin)),

    // Maximum drawdown of the cumulative daily revenue
    // curve and the 14-day stochastic oscillator %K — both over the
    // calendar DAY spine (≤ time-span rows regardless of corpus size; the
    // windows are declared in the ScaleSpec empty-partition allowlist),
    // both exact-integer until the final ppm/readout.

    // Max drawdown: peak-to-trough of the cumulative daily revenue in
    // exact cents; reports the drawdown, its trough day, and the peak
    // day it fell from (earliest peak on ties, pinned identically in
    // both engines).
    "ts_max_drawdown" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("day")
        val cur = dailyRevenue(s, d)
          .withColumn("cum", sum(col("cents")).over(w))
          .withColumn("peak", max(col("cum")).over(w))
          .withColumn("dd", col("peak") - col("cum"))
        val mx = cur.agg(max(col("dd")).as("max_dd"))
        cur.crossJoin(broadcast(mx))
          .filter(col("dd") === col("max_dd"))
          .orderBy("day").limit(1)
          .select(col("max_dd").as("max_drawdown_cents"),
                  col("day").as("trough_day"), col("peak"))
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP))
             |           // 86400000000 AS day,
             |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |              AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |cum AS (
             |  SELECT day,
             |         CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum
             |  FROM daily),
             |cur AS (
             |  SELECT day, cum,
             |         CAST(max(cum) OVER (ORDER BY day) AS BIGINT) AS peak
             |  FROM cum),
             |dd AS (SELECT day, peak, peak - cum AS dd FROM cur),
             |mx AS (SELECT max(dd) AS max_dd FROM dd)
             |SELECT dd.dd AS max_drawdown_cents,
             |       CAST(dd.day AS BIGINT) AS trough_day, dd.peak
             |FROM dd CROSS JOIN mx WHERE dd.dd = mx.max_dd
             |ORDER BY dd.day LIMIT 1""".stripMargin)),

    // 14-day stochastic oscillator %K of daily revenue: k_ppm =
    // (v − min₁₄)·10⁶ div (max₁₄ − min₁₄) over the trailing 14-day
    // frame (flat frames → NULL via nullif, identical both engines).
    "ts_stochastic_osc" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("day").rowsBetween(-13, 0)
        dailyRevenue(s, d)
          .withColumn("lo14", min(col("cents")).over(w))
          .withColumn("hi14", max(col("cents")).over(w))
          .select(col("day"), col("cents"),
                  expr("((cents - lo14) * 1000000) div " +
                       "nullif(hi14 - lo14, 0)").as("k_ppm"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP))
             |           // 86400000000 AS day,
             |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |              AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |f AS (
             |  SELECT day, cents,
             |         CAST(min(cents) OVER w AS BIGINT) AS lo14,
             |         CAST(max(cents) OVER w AS BIGINT) AS hi14
             |  FROM daily
             |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING
             |               AND CURRENT ROW))
             |SELECT CAST(day AS BIGINT) AS day, cents,
             |       (cents - lo14) * 1000000 // nullif(hi14 - lo14, 0)
             |         AS k_ppm
             |FROM f ORDER BY day""".stripMargin))
  )
}
