package graft.operators

import graft.{Decl, Tables, declMap}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.5 window functions.
  *
  * All windows partition by a real key (customer / priority / segment), so at
  * scale each partition's state fits an executor and the plan is one shuffle
  * on the partition key + per-partition sort — no global sort, no driver
  * involvement. Ranking functions carry a unique tiebreaker (R2); DuckDB
  * returns BIGINT for ranking/ntile where Spark returns INT, so both sides
  * cast explicitly.
  */
object Windows {

  val decls: Map[String, Decl] = declMap(
    // Per-group top-k: the window formulation (vs global sort+limit) is the
    // shape that scales — rank within each group, filter early.
    "window_row_number_topk" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
                  round(col("o_totalprice"), 2).as("total"), col("rn"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |  CAST(row_number() OVER (PARTITION BY o_custkey
             |       ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // Same semantics through graft's native custom operator (logical node +
    // strategy + physical plan, graft.plans.TopKPerKey): bounded per-key
    // heaps instead of the window's full per-group sort. The oracle is the
    // row_number formulation — proving the custom operator's results are
    // indistinguishable from the stock plan's.
    "topk_per_key_native" -> Decl(
      (s, d) => Tables.canon(
        graft.plans.TopK.perKey(
            Tables(s, d, "orders"), Seq("o_custkey"),
            Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
          .select(col("o_custkey"), col("o_orderkey"),
                  round(col("o_totalprice"), 2).as("total"))),
      Some("""SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey
             |       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY ALL NULLS FIRST""".stripMargin)),

    "window_rank_dense" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.canon(
          Tables(s, d, "orders").select(
            col("o_orderkey"), col("o_orderpriority"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            round(percent_rank().over(w), 6).as("prnk")))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |CAST(rank() OVER w AS INT) AS rnk,
             |CAST(dense_rank() OVER w AS INT) AS drnk,
             |round(percent_rank() OVER w, 6) AS prnk
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "window_lag_lead" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.canon(
          Tables(s, d, "orders").select(
            col("o_custkey"), col("o_orderkey"),
            round(lag(col("o_totalprice"), 1, 0.0).over(w), 2).as("prev_total"),
            round(lead(col("o_totalprice"), 1, -1.0).over(w), 2).as("next_total")))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |round(lag(o_totalprice, 1, 0.0) OVER w, 2) AS prev_total,
             |round(lead(o_totalprice, 1, -1.0) OVER w, 2) AS next_total
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "window_running_sum" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.canon(
          Tables(s, d, "orders").select(
            col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running_total")))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate ASC, o_orderkey ASC
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Moving average rounded at 4 dp: the true mean of ≤4 two-decimal values
    // is a multiple of 0.0025, whose 5th decimal is always 0 — boundary-free.
    "window_moving_avg" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(-3, 0)
        Tables.canon(
          Tables(s, d, "orders").select(
            col("o_custkey"), col("o_orderkey"),
            round(avg(col("o_totalprice")).over(w), 4).as("mavg")))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate ASC, o_orderkey ASC
             |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // RANGE frame over a numeric ordering key.
    "window_range_frame" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc)
          .rangeBetween(-1000L, 0L)
        Tables.canon(
          Tables(s, d, "orders").select(
            col("o_orderkey"), col("o_orderpriority"),
            round(col("o_totalprice"), 2).as("total"),
            count(lit(1)).over(w).as("n_in_range"),
            round(sum(col("o_totalprice")).over(w), 2).as("sum_in_range")))
      },
      Some("""SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS total,
             |count(*) OVER w AS n_in_range,
             |round(sum(o_totalprice) OVER w, 2) AS sum_in_range
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC
             |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Batch sessionization (gaps-and-islands): a session breaks after a
    // >10-minute silence per user; lag → break flag → running sum = session
    // id → per-session aggregate. Both window passes and the groupBy reuse
    // ONE (user_id-hash, time-sorted) shuffle — at scale this is a single
    // exchange over the event stream, the batch twin of
    // stream_session_window's stateful operator. Session ids are 0-based
    // (the first event's lag is NULL → break flag 0 in both engines).
    "window_sessionize_batch" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val brk = when(
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 600000000L,
          lit(1)).otherwise(lit(0))
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("sid",
            sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_events"),
               min("ts").as("session_start"),
               max("ts").as("session_end"))
          .orderBy("user_id", "sid")
      },
      Some("""WITH m AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
             |           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) > 600000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts,
             |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM m)
             |SELECT user_id, sid, count(*) AS n_events,
             |       min(ts) AS session_start, max(ts) AS session_end
             |FROM sess GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin)),

    "window_ntile_firstlast" -> Decl(
      (s, d) => {
        val ord = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
        val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.canon(
          Tables(s, d, "customer").select(
            col("c_custkey"), col("c_mktsegment"),
            ntile(4).over(ord).as("quartile"),
            first(col("c_custkey")).over(full).as("poorest"),
            last(col("c_custkey")).over(full).as("richest")))
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |CAST(ntile(4) OVER w AS INT) AS quartile,
             |first_value(c_custkey) OVER wf AS poorest,
             |last_value(c_custkey) OVER wf AS richest
             |FROM customer
             |WINDOW w  AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC),
             |       wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY ALL NULLS FIRST""".stripMargin)))
}
