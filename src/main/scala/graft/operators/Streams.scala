package graft.operators

import graft.{Decl, Tables, declMap}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.9 streaming — declared batch twins.
  *
  * The same `StreamOps` transformations run over `MemoryStream` input in
  * `StreamingSpec` (watermarks, late data, stateful dedup, custom state);
  * here each key's batch twin is declared with a DuckDB oracle wherever the
  * end-of-stream result is deterministic — which turns out to be all of
  * them, including the foreachBatch sink (which really runs a streaming
  * query and then aggregates what the sink wrote).
  */
object Streams {

  val decls: Map[String, Decl] = declMap(
    "stream_tumbling_agg" -> Decl(
      (s, d) => StreamOps.tumbling(Tables.events(s, d)).orderBy("wstart", "event_type"),
      Some("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wstart,
             |event_type, count(*) AS n, round(sum(value), 6) AS sv
             |FROM events GROUP BY wstart, event_type
             |ORDER BY wstart, event_type""".stripMargin)),

    // DuckDB twin: every event belongs to the 4 15-min-aligned windows
    // covering it — enumerate them with a VALUES cross join. (time_bucket's
    // 2000-01-03 origin and Spark's epoch origin agree on 15-min grids.)
    "stream_sliding_agg" -> Decl(
      (s, d) => StreamOps.sliding(Tables.events(s, d)).orderBy("wstart", "event_type"),
      Some("""SELECT wstart, event_type, count(*) AS n, round(sum(value), 6) AS sv FROM (
             |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
             |           - to_minutes(CAST(o.off * 15 AS BIGINT)) AS wstart,
             |         event_type, value
             |  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) o(off))
             |GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin)),

    // DuckDB twin: gaps-and-islands with Spark's boundary semantics — a
    // session keeps absorbing events while the gap is <= 10 min; only a gap
    // STRICTLY greater than the threshold starts a new session (verified
    // against session_window on a handcrafted fixture in StreamingSpec).
    "stream_session_window" -> Decl(
      (s, d) => StreamOps.sessions(Tables.events(s, d)).orderBy("user_id", "session_start"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
             |flagged AS (
             |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
             |                   OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
             |            THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |sess AS (
             |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM flagged)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n, round(sum(value), 6) AS sv
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // Batch twin of a 10-minute watermark at end-of-stream: rows at least
    // that recent survive. (True late-drop behavior is asserted over
    // MemoryStream in StreamingSpec.)
    "stream_watermark_late" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d)
        val cut = e.agg((max(col("ts")) - expr("INTERVAL 10 MINUTES")).as("cut"))
        e.crossJoin(broadcast(cut))
          .filter(col("ts") >= col("cut"))
          .select("event_id", "ts", "event_type")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
             |WHERE CAST(ts AS TIMESTAMP) >=
             |  (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL '10 minutes'
             |ORDER BY event_id""".stripMargin)),

    // Batch twin of dropDuplicatesWithinWatermark: dedup by event_id over a
    // doubled stream (duplicate rows are bit-identical, so "keep an
    // arbitrary one" is still deterministic content).
    "stream_dedup_watermark" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
        e.unionAll(e).dropDuplicates("event_id").orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin)),

    // Batch twin of the custom per-key state op (running per-user counter):
    // the end-of-stream counter value at each event is its row_number.
    // (The incremental flatMapGroupsWithState version runs in StreamingSpec.)
    "stream_stateful_custom" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), row_number().over(w).as("seq"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |CAST(row_number() OVER (PARTITION BY user_id
             |  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INT) AS seq
             |FROM events ORDER BY event_id""".stripMargin)),

    // Stream-static enrichment: the standard streaming join shape — each
    // micro-batch hash-joins against the broadcast dimension with no
    // streaming state at all. Batch twin declared here; the streaming twin
    // (MemoryStream ⋈ static customer) runs in StreamingSpec.
    "stream_static_join" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d); val c = Tables(s, d, "customer")
        e.join(broadcast(c), e("user_id") === c("c_custkey"))
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sv"))
          .orderBy("c_mktsegment", "event_type")
      },
      Some("""SELECT c_mktsegment, event_type, count(*) AS n, round(sum(value), 6) AS sv
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment, event_type
             |ORDER BY c_mktsegment, event_type""".stripMargin)),

    // Stream-stream interval join, batch twin: each 'click' pairs with the
    // same user's 'error' events in the following 60 minutes — the canonical
    // two-stream correlation. In streaming form both sides carry watermarks
    // and the time-range predicate bounds the join state (the live
    // MemoryStream version runs in StreamingSpec); the end-of-stream result
    // is exactly this inner interval join, so it is fully oracle-checkable.
    "stream_stream_join" -> Decl(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id").as("uid"), col("event_id").as("error_id"), col("ts").as("error_ts"))
        clicks.join(errors,
            col("user_id") === col("uid") &&
            col("error_ts") >= col("click_ts") &&
            col("error_ts") <= col("click_ts") + expr("INTERVAL 60 MINUTES"))
          .select(col("user_id"), col("click_id"), col("error_id"),
                  (col("error_ts").cast("long") - col("click_ts").cast("long")).as("gap_s"))
          .orderBy("user_id", "click_id", "error_id")
      },
      Some("""SELECT c.user_id AS user_id, c.event_id AS click_id, e.event_id AS error_id,
             |date_diff('second', CAST(c.ts AS TIMESTAMP), CAST(e.ts AS TIMESTAMP)) AS gap_s
             |FROM events c JOIN events e ON c.user_id = e.user_id
             |WHERE c.event_type = 'click' AND e.event_type = 'error'
             |  AND CAST(e.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
             |  AND CAST(e.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '60 minutes'
             |ORDER BY c.user_id, click_id, error_id""".stripMargin)),

    // A real micro-batch pipeline: file streaming source → foreachBatch
    // parquet sink (Trigger.AvailableNow), then aggregate what the sink
    // wrote. The oracle is the same aggregate over the original table —
    // equality proves the sink lost/duplicated nothing.
    "stream_foreachbatch_sink" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = Tables.scratchDir("graft_stream")
        val srcDir = tmp.resolve("src"); val outDir = tmp.resolve("out")
        java.nio.file.Files.createDirectories(srcDir)
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$d/events.parquet"),
          srcDir.resolve("events.parquet"))
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // readStream requires an explicit schema; take it from the file
        // itself so a fixture regeneration (ts: INT64-nanos → TIMESTAMP
        // micros, round 8) can't wedge the source. The aggregate below
        // never touches ts, so either physical type flows through.
        val stream = s.readStream
          .schema(s.read.parquet(srcDir.toString).schema)
          .parquet(srcDir.toString)
        val writeBatch: (DataFrame, Long) => Unit =
          (batch, _) => batch.write.mode("append").parquet(outDir.toString)
        val q = stream.writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .foreachBatch(writeBatch)
          .start()
        q.awaitTermination()
        s.read.parquet(outDir.toString)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sv"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 6) AS sv
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // The PRODUCTION micro-batch sink shape: file stream → foreachBatch →
    // MERGE INTO the warehouse table (the Sql/Merge copy-on-write
    // machinery), maxFilesPerTrigger=1 forcing MULTIPLE per-batch merges
    // that must compose. The update arm uses an ABSOLUTE assignment
    // (SET price = s.p + 1000, not t.price + 1000) so a replayed
    // uncommitted batch's UPDATEs are idempotent. The INSERT arm is NOT
    // self-idempotent (a replayed batch would match its own insert and
    // bump it to p+1000) — exactly-once for inserts rests on the
    // checkpointed source offsets, which StreamingSpec proves: COMMITTED
    // batches never re-apply across a stop/restart (a counting merge
    // there would detect any replay). The DuckDB oracle reproduces the
    // upsert relationally, so the hash-match proves the streamed merges
    // reach the SQL-standard result set.
    "stream_merge_upsert" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = Tables.scratchDir("graft_stream_merge")
        val srcDir = tmp.resolve("src")
        java.nio.file.Files.createDirectories(srcDir)
        val wh = tmp.resolve("wh").toString
        Tables(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$wh/stream_target")
        // the urgent orders arrive as a 3-file stream (disjoint keys, so
        // any batch split reaches the same final table)
        Tables(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
          .repartition(3)
          .write.mode("overwrite").parquet(srcDir.toString)
        val stream = s.readStream
          .schema(s.read.parquet(srcDir.toString).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        val mergeBatch: (DataFrame, Long) => Unit = (batch, _) => {
          batch.createOrReplaceTempView("stream_merge_src")
          graft.Sql.execute(batch.sparkSession, wh,
            """MERGE INTO stream_target t
              |USING (SELECT k, p FROM stream_merge_src) s
              |ON t.o_orderkey = s.k
              |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p + 1000
              |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice)
              |  VALUES (s.k, s.p)""".stripMargin)
        }
        val q = stream.writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .foreachBatch(mergeBatch)
          .start()
        q.awaitTermination()
        Tables.canon(
          s.read.parquet(s"$wh/stream_target")
            .select(col("o_orderkey"),
                    round(col("o_totalprice"), 2).as("o_totalprice")))
      },
      Some("""WITH f AS (SELECT o_orderkey, o_totalprice FROM orders
             |           WHERE o_orderstatus = 'F'),
             |u AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
             |      WHERE o_orderpriority = '1-URGENT')
             |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM (
             |  SELECT f.o_orderkey,
             |         CASE WHEN u.k IS NULL THEN f.o_totalprice
             |              ELSE u.p + 1000 END AS o_totalprice
             |  FROM f LEFT JOIN u ON f.o_orderkey = u.k
             |  UNION ALL
             |  SELECT u.k, u.p FROM u LEFT JOIN f ON f.o_orderkey = u.k
             |  WHERE f.o_orderkey IS NULL)
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Streaming twin of ts_resample_ohlc: the same StreamOps.ohlc runs
    // over MemoryStream in StreamingSpec (stream == batch asserted); the
    // declared batch path gets the DuckDB oracle. Struct-min/max state
    // merges associatively, so incremental micro-batches are exact.
    "stream_ohlc_tumbling" -> Decl(
      (s, d) => graft.streaming.StreamOps.ohlc(Tables.events(s, d)).orderBy("wstart"),
      Some("""WITH e AS (SELECT
             |  CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             |    AS wstart,
             |  epoch_ns(ts) // 1000 AS us, event_id,
             |  CAST(round(value * 100) AS BIGINT) AS c
             |FROM events)
             |SELECT wstart,
             |       (min({'u': us, 'e': event_id, 'c': c})).c AS open,
             |       max(c) AS high, min(c) AS low,
             |       (max({'u': us, 'e': event_id, 'c': c})).c AS close,
             |       count(*) AS n
             |FROM e GROUP BY wstart ORDER BY wstart""".stripMargin)),

    // STREAMING materialized-view maintenance: the events table arrives
    // as a multi-file stream (maxFilesPerTrigger=1 → several
    // micro-batches), and each foreachBatch merges the batch's
    // (event_type, day) partial states into the standing summary via
    // MvMaintain.mergePartials — counts and cents-sums ADD, min/max
    // idempotently combine, so any batch split reaches the same summary
    // (the sink_incremental_agg losslessness riding a real streaming
    // query). Replay semantics match stream_merge_upsert: the merge is
    // not self-idempotent; exactly-once rests on the checkpointed source
    // offsets (StreamingSpec pins committed batches never re-applying).
    // The oracle is the FULL batch aggregate over raw events — the hash
    // match IS the stream == batch equality on the summary.
    "stream_mv_maintain" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = Tables.scratchDir("graft_stream_mv")
        val srcDir = tmp.resolve("src")
        val sumDir = tmp.resolve("mv_stream_events").toString
        java.nio.file.Files.createDirectories(srcDir)
        // land the stream input as ≥3 files of normalized rows (the
        // Tables.events ts dispatch has already run, so the stream schema
        // is stable regardless of the fixture's physical ts type)
        Tables.events(s, d)
          .select(col("event_type"),
                  datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                    .cast("bigint").as("day"),
                  round(col("value") * 100).cast("bigint").as("cents"))
          .repartition(3)
          .write.mode("overwrite").parquet(srcDir.toString)
        val stream = s.readStream
          .schema(s.read.parquet(srcDir.toString).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        val mergeBatch: (DataFrame, Long) => Unit = (batch, _) => {
          val partial = batch.groupBy("event_type", "day")
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
                 min(col("cents")).as("mn"), max(col("cents")).as("mx"))
          val ss = batch.sparkSession
          val merged =
            if (java.nio.file.Files.exists(java.nio.file.Paths.get(sumDir)))
              graft.plans.MvMaintain.mergePartials(
                ss.read.parquet(sumDir), partial,
                dims = Seq("event_type", "day"),
                sums = Set("n", "sc"), mins = Set("mn"), maxs = Set("mx"))
            else partial
          // stage-and-swap: the merge READS the standing summary it is
          // about to replace
          val staging = sumDir + "_staging"
          merged.write.mode("overwrite").parquet(staging)
          graft.GraftCatalog.deleteRecursively(java.nio.file.Paths.get(sumDir))
          java.nio.file.Files.move(java.nio.file.Paths.get(staging),
                                   java.nio.file.Paths.get(sumDir))
          ss.catalog.refreshByPath(sumDir)
        }
        val q = stream.writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .foreachBatch(mergeBatch)
          .start()
        q.awaitTermination()
        s.read.parquet(sumDir).orderBy("event_type", "day")
      },
      Some("""SELECT event_type,
             |       CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT) AS day,
             |       count(*) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
             |       min(CAST(round(value * 100) AS BIGINT)) AS mn,
             |       max(CAST(round(value * 100) AS BIGINT)) AS mx
             |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin)))
}
