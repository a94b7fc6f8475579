package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class Cdc(ts: Timestamp, user_id: Long, event_id: Long,
               event_type: String, value: Double)
case class Keyed(event_id: Long, ts: Timestamp)
case class Tick(ts: Timestamp, event_id: Long, value: Double)

/** SURVEY §2.9 — genuinely stateful streaming behavior, validated over
  * MemoryStream (the oracle-N surface: watermark late-drop, stateful dedup,
  * custom per-key state), plus stream==batch equivalence for the windowed
  * aggregates shared with the declared batch twins.
  */
class StreamingSpec extends AnyFunSuite with SharedSpark {

  private val T0 = 1700000000000L
  private def ts(min: Int): Timestamp = new Timestamp(T0 + min * 60000L)
  private def hourStart(min: Int): Timestamp = {
    val t = T0 + min * 60000L; new Timestamp(t - t % 3600000L)
  }

  test("tumbling agg over a stream equals its batch twin") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val data = Seq(
      Ev(ts(0), 1, "click", 1.5), Ev(ts(10), 1, "click", 2.25),
      Ev(ts(65), 2, "view", 3.0), Ev(ts(70), 1, "click", 4.0))
    val mem = MemoryStream[Ev]
    val q = StreamOps.tumbling(mem.toDF)
      .writeStream.outputMode("complete").format("memory").queryName("tumb").start()
    mem.addData(data: _*)
    q.processAllAvailable(); q.stop()
    val streamed = sp.table("tumb").orderBy("wstart", "event_type").collect().toSeq
    val batch = StreamOps.tumbling(data.toDF).orderBy("wstart", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("streaming OHLC equals its batch twin, ties broken by event_id") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    // two ticks share ts(5) — open/close must pick by event_id, and the
    // incremental stream state must merge to the same answer as batch
    val data = Seq(
      Tick(ts(5), 2L, 3.00), Tick(ts(5), 1L, 9.00), Tick(ts(20), 3L, 1.25),
      Tick(ts(50), 4L, 7.5), Tick(ts(70), 5L, 2.0))
    val mem = MemoryStream[Tick]
    val q = StreamOps.ohlc(mem.toDF)
      .writeStream.outputMode("complete").format("memory").queryName("ohlc").start()
    mem.addData(data.take(2): _*)   // split across micro-batches: state merge
    q.processAllAvailable()
    mem.addData(data.drop(2): _*)
    q.processAllAvailable(); q.stop()
    val streamed = sp.table("ohlc").orderBy("wstart").collect().toSeq
    val batch = StreamOps.ohlc(data.toDF).orderBy("wstart").collect().toSeq
    assert(streamed == batch)
    // T0 is not hour-aligned (epoch-hour boundary falls at ~46.7 min), so
    // the first window holds the two ts(5) ticks + ts(20): open must take
    // event_id 1 (not 2) on the shared timestamp, close is the ts(20) tick
    val h0 = streamed.head
    assert(h0.getAs[Long]("open") == 900L && h0.getAs[Long]("close") == 125L)
    assert(h0.getAs[Long]("high") == 900L && h0.getAs[Long]("low") == 125L)
  }

  test("10-minute watermark drops late rows in append mode") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName("wmk").start()
    mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(30), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(ts(200), 1, "click", 1.0)) // watermark → 190 min: hour-0 window closes
    q.processAllAvailable()
    mem.addData(Ev(ts(5), 2, "late", 9.0))    // 185 min behind watermark: must be dropped
    q.processAllAvailable()
    mem.addData(Ev(ts(300), 1, "click", 1.0)) // watermark → 290: closes the min-200 window
    q.processAllAvailable(); q.stop()
    val rows = sp.table("wmk").collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    assert(rows(hourStart(0)) == 2L)          // late row did not resurrect the closed window
    assert(rows.values.sum == 3L)             // and was not counted anywhere else
  }

  test("dropDuplicatesWithinWatermark emits each key once") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val mem = MemoryStream[Keyed]
    val dedup = mem.toDF
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.outputMode("append").format("memory").queryName("ddw").start()
    mem.addData(Keyed(1, ts(0)), Keyed(1, ts(1)), Keyed(2, ts(2)))
    q.processAllAvailable()
    mem.addData(Keyed(1, ts(3)), Keyed(3, ts(4))) // dup of 1 across batches, within watermark
    q.processAllAvailable(); q.stop()
    val ids = sp.table("ddw").select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("streaming CDC snapshot equals its batch twin across delete/resurrect") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    // user 1: upsert → (later batch) delete  → absent from the snapshot
    // user 2: upsert → (later batch) newer upsert → latest value wins
    // user 3: delete → (later batch) upsert  → resurrected
    val b1 = Seq(Cdc(ts(0), 1, 10, "click", 1.00), Cdc(ts(1), 2, 11, "view", 2.00),
                 Cdc(ts(2), 3, 12, "error", 0.0))
    val b2 = Seq(Cdc(ts(5), 1, 13, "error", 0.0), Cdc(ts(6), 2, 14, "click", 7.25),
                 Cdc(ts(7), 3, 15, "purchase", 3.50))
    val mem = MemoryStream[Cdc]
    val q = StreamOps.cdcSnapshot(mem.toDF)
      .writeStream.outputMode("complete").format("memory").queryName("cdc").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val streamed = sp.table("cdc").orderBy("user_id").collect().toSeq
    val batch = StreamOps.cdcSnapshot((b1 ++ b2).toDF)
      .orderBy("user_id").collect().toSeq
    assert(streamed == batch)
    val byUser = streamed.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!byUser.contains(1L), "deleted user must leave the snapshot")
    assert(byUser(2L) == 725L, "latest upsert wins")
    assert(byUser(3L) == 350L, "late upsert resurrects a deleted key")
  }

  test("flatMapGroupsWithState running counter matches batch row_number") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val b1 = Seq(Ev(ts(0), 1, "a", 0), Ev(ts(1), 2, "a", 0), Ev(ts(2), 1, "a", 0))
    val b2 = Seq(Ev(ts(3), 1, "a", 0), Ev(ts(4), 2, "a", 0))
    val mem = MemoryStream[Ev]
    val counted = mem.toDS.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], st: GroupState[Long]) =>
          var c = st.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_.ts.getTime).map { e => c += 1; (uid, e.ts, c) }
          st.update(c)
          out.iterator
      }.toDF("user_id", "ts", "seq")
    val q = counted.writeStream.outputMode("append").format("memory").queryName("ctr").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val streamed = sp.table("ctr").orderBy("user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
    import org.apache.spark.sql.expressions.Window
    val batch = (b1 ++ b2).toDF
      .select(col("user_id"), col("ts"),
              row_number().over(Window.partitionBy("user_id").orderBy("ts")).cast("long").as("seq"))
      .orderBy("user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
    assert(streamed == batch)
  }

  test("transformWithState running counter (RocksDB state store)") {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimerValues, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val prev = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      class Counter extends StatefulProcessor[Long, Ev, (Long, Long)] {
        @transient private var count: ValueState[Long] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[Ev],
                                     timers: TimerValues): Iterator[(Long, Long)] = {
          var c = if (count.exists()) count.get() else 0L
          val out = rows.toSeq.sortBy(_.ts.getTime).map { _ => c += 1; (key, c) }
          count.update(c)
          out.iterator
        }
      }
      val mem = MemoryStream[Ev]
      val counted = mem.toDS.groupByKey(_.user_id)
        .transformWithState(new Counter, TimeMode.None(), OutputMode.Append())
        .toDF("user_id", "seq")
      val q = counted.writeStream.outputMode("append").format("memory").queryName("tws").start()
      mem.addData(Ev(ts(0), 1, "a", 0), Ev(ts(1), 1, "a", 0), Ev(ts(2), 2, "a", 0))
      q.processAllAvailable()
      mem.addData(Ev(ts(3), 1, "a", 0)) // state persists across micro-batches
      q.processAllAvailable(); q.stop()
      val got = sp.table("tws").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 1L), (1L, 2L), (2L, 1L), (1L, 3L)))
    } finally {
      prev match {
        case Some(v) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static join enriches each micro-batch against a dimension table") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("cust_id", "tier")
    val mem = MemoryStream[Ev]
    val joined = mem.toDF.join(dim, col("user_id") === col("cust_id"))
      .groupBy("tier").agg(count(lit(1)).as("n"))
    val q = joined.writeStream.outputMode("complete").format("memory").queryName("ssj").start()
    mem.addData(Ev(ts(0), 1, "a", 0), Ev(ts(1), 2, "a", 0), Ev(ts(2), 1, "a", 0),
                Ev(ts(3), 9, "a", 0)) // user 9 has no dim row → dropped by inner join
    q.processAllAvailable(); q.stop()
    val got = sp.table("ssj").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("GOLD" -> 2L, "SILVER" -> 1L))
  }

  // Streaming CDC upsert: each micro-batch MERGEs into a warehouse table
  // through the session's copy-on-write machinery — the foreachBatch +
  // MERGE pattern every incremental training-data ingest runs. Later
  // micro-batches overwrite earlier values for the same key; new keys
  // insert.
  test("foreachBatch MERGE upserts each micro-batch into a warehouse table") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val wh = Tables.scratchDir("graft_whstream").toString
    Seq((1L, "init1"), (2L, "init2")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$wh/cdc_target")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("k", "v").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the micro-batch runs in a cloned session — register the view and
        // execute the merge THERE, not in the outer session
        batch.createOrReplaceTempView("cdc_batch")
        Sql.execute(batch.sparkSession, wh,
          """MERGE INTO cdc_target t
            |USING (SELECT k, v FROM cdc_batch) s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
        ()
      }
      .start()
    mem.addData((2L, "updated2"), (3L, "inserted3"))
    q.processAllAvailable()
    mem.addData((3L, "updated3"))
    q.processAllAvailable()
    q.stop()
    val got = sp.read.parquet(s"$wh/cdc_target").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "init1", 2L -> "updated2", 3L -> "updated3"), got.toString)
  }

  test("stream-stream interval join matches the batch formulation") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val sigs = MemoryStream[Ev]; val purs = MemoryStream[Ev]
    val sigDf = sigs.toDF.select(col("user_id").as("su"), col("ts").as("sts"))
      .withWatermark("sts", "1 hour")
    val purDf = purs.toDF.select(col("user_id").as("pu"), col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val joined = sigDf.join(purDf,
      col("su") === col("pu") && col("pts") >= col("sts") &&
      col("pts") <= col("sts") + expr("INTERVAL 2 HOURS"))
    val q = joined.writeStream.outputMode("append").format("memory").queryName("ss2").start()
    sigs.addData(Ev(ts(0), 1, "signup", 0), Ev(ts(0), 2, "signup", 0))
    purs.addData(Ev(ts(30), 1, "purchase", 0),   // within 2h of user 1's signup
                 Ev(ts(200), 2, "purchase", 0),  // 3h20m later → outside window
                 Ev(ts(40), 3, "purchase", 0))   // no signup
    q.processAllAvailable(); q.stop()
    val got = sp.table("ss2").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L)) // only user 1's (signup, purchase) pair joins
  }

  test("stream-stream LEFT OUTER join emits the null match after watermark expiry") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val clicks = MemoryStream[Ev]; val errors = MemoryStream[Ev]
    val cDf = clicks.toDF.select(col("user_id").as("cu"), col("ts").as("cts"))
      .withWatermark("cts", "10 minutes")
    val eDf = errors.toDF.select(col("user_id").as("eu"), col("ts").as("ets"))
      .withWatermark("ets", "10 minutes")
    val joined = cDf.join(eDf,
      col("cu") === col("eu") && col("ets") >= col("cts") &&
      col("ets") <= col("cts") + expr("INTERVAL 60 MINUTES"), "left_outer")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("sso").start()
    clicks.addData(Ev(ts(0), 1, "click", 0),  // error at +5 → matched pair
                   Ev(ts(0), 2, "click", 0))  // no error ever → null match
    errors.addData(Ev(ts(5), 1, "error", 0))
    q.processAllAvailable()
    // the unmatched left row may only emit once the watermark PROVES no
    // error can still arrive inside its 60-minute window: advance both
    // streams far past it, then flush
    clicks.addData(Ev(ts(300), 9, "click", 0))
    errors.addData(Ev(ts(300), 9, "error", 0))
    q.processAllAvailable(); q.stop()
    val rows = sp.table("sso").collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_ => r.getLong(2))))
    assert(rows.contains((1L, Some(1L))), s"matched pair missing: ${rows.toSeq}")
    assert(rows.contains((2L, None)), s"watermark-expired null match missing: ${rows.toSeq}")
  }

  // The streaming property a production pipeline actually depends on:
  // stop a stateful query mid-stream, restart it from its checkpoint, and
  // the resumed query (a) recovers the open-window state accumulated
  // before the stop and (b) emits every closed window EXACTLY once into a
  // fault-tolerant (file) sink — no loss, no replay duplicates.
  test("windowed agg restarts from its checkpoint with exactly-once file-sink output") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    val chk = Tables.scratchDir("graft_stream_chk").toString
    val out = Tables.scratchDir("graft_stream_out").toString
    val mem = MemoryStream[Ev]
    def agg = mem.toDF
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("n"))
    def start() = agg.writeStream.outputMode("append")
      .option("checkpointLocation", chk)
      .format("parquet").option("path", out).start()
    // run 1: hour-0 window accumulates 2 rows, watermark at 20 min — the
    // window is still OPEN (nothing emitted) when the query stops
    val q1 = start()
    mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(30), 1, "click", 1.0))
    q1.processAllAvailable(); q1.stop()
    // run 2: restart from the checkpoint. The recovered state must still
    // hold hour-0's count=2; advancing the watermark to 190 then 290
    // closes the hour-0 and hour-3 windows in the resumed query
    val q2 = start()
    mem.addData(Ev(ts(200), 2, "view", 1.0))
    q2.processAllAvailable()
    mem.addData(Ev(ts(300), 3, "view", 1.0))
    q2.processAllAvailable(); q2.stop()
    val rows = sp.read.parquet(out).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
    // exactly-once: each closed window appears ONCE with the full
    // pre-restart count recovered; the still-open hour-5 window is absent
    val expect = Seq((hourStart(0).getTime, 2L), (hourStart(200).getTime, 1L))
    assert(rows.sorted == expect.sorted, s"resumed output wrong: $rows")
  }

  // The upsert-sink counterpart of the restart test above: foreachBatch +
  // MERGE with a COUNTING update arm (cnt = t.cnt + 1 — deliberately
  // non-idempotent so any replay is visible), stop, add a file, restart
  // from the same checkpoint. Exactly-once means the restarted query
  // merges ONLY the new file: a key seen in run 1 keeps cnt=1, a key seen
  // in both files reaches exactly 2.
  test("foreachBatch MERGE restart applies only uncommitted batches") {
    val sp = spark; import sp.implicits._
    val tmp = Tables.scratchDir("graft_stream_mergechk")
    val src = tmp.resolve("src")
    java.nio.file.Files.createDirectories(src)
    val wh = tmp.resolve("wh").toString
    val chk = tmp.resolve("ckpt").toString
    sp.range(1, 5).selectExpr("id AS k", "CAST(0 AS BIGINT) AS cnt")
      .write.parquet(s"$wh/t")
    def addFile(name: String, keys: Seq[Long]): Unit = {
      val stage = tmp.resolve(s"stage_$name")
      keys.toDF("k").coalesce(1).write.parquet(stage.toString)
      val part = ScratchDirs.listDir(stage)
        .find(_.getFileName.toString.startsWith("part-")).get
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val stream = sp.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
      val mergeBatch: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (batch, _) => {
          batch.createOrReplaceTempView("mb_src")
          Sql.execute(batch.sparkSession, wh,
            """MERGE INTO t tt USING (SELECT k FROM mb_src) s ON tt.k = s.k
              |WHEN MATCHED THEN UPDATE SET cnt = tt.cnt + 1
              |WHEN NOT MATCHED THEN INSERT (k, cnt) VALUES (s.k, 1)"""
              .stripMargin)
        }
      val q = stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", chk)
        .foreachBatch(mergeBatch)
        .start()
      q.awaitTermination()
    }
    addFile("a", Seq(1L, 2L)); runOnce()
    addFile("b", Seq(2L, 9L)); runOnce()
    val got = sp.read.parquet(s"$wh/t").as[(Long, Long)].collect().toMap
    val expect = Map(1L -> 1L, 2L -> 2L, 3L -> 0L, 4L -> 0L, 9L -> 1L)
    assert(got == expect,
      s"restart replayed or lost a batch: got $got, expected $expect")
  }

  test("session windows merge while gap <= 10 min and split when gap > 10 min") {
    val sp = spark; import sp.implicits._
    val data = Seq(
      Ev(ts(0), 1, "a", 1.0), Ev(ts(5), 1, "a", 1.0),  // gap 5 → same session
      Ev(ts(15), 1, "a", 1.0),                          // gap exactly 10 → still merges
      Ev(ts(26), 1, "a", 1.0),                          // gap 11 → new session
      Ev(ts(0), 2, "a", 1.0))
    val out = StreamOps.sessions(data.toDF).orderBy("user_id", "session_start").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((1L, 3L), (1L, 1L), (2L, 1L)))
  }

  test("hourly top-k re-ranks incrementally via foreachBatch (stream == batch)") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext
    // two hours; hour 0: click x2, view x1 -> top2 = click, view
    // hour 1 arrives across TWO micro-batches so the rank must be
    // recomputed from updated aggregate state, not from one batch alone
    val b1 = Seq(
      Ev(ts(0), 1, "click", 1.0), Ev(ts(5), 2, "click", 1.0),
      Ev(ts(10), 3, "view", 1.0),
      Ev(ts(61), 1, "view", 1.0), Ev(ts(62), 2, "view", 1.0))
    val b2 = Seq(
      Ev(ts(63), 3, "purchase", 1.0), Ev(ts(64), 4, "purchase", 1.0),
      Ev(ts(65), 5, "purchase", 1.0))
    val mem = MemoryStream[Ev]
    // standing aggregate state: hour x type counts in complete mode;
    // each micro-batch re-ranks the updated table - the foreachBatch
    // pattern for rank-over-aggregate, which streaming SQL cannot
    // express directly
    val ranked = new scala.collection.mutable.ArrayBuffer[Seq[(Long, String, Long)]]
    val counts = mem.toDF
      .groupBy(window(col("ts"), "1 hour").getField("start").as("h"), col("event_type"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
    val q = counts.writeStream.outputMode("complete")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("h").orderBy(col("n").desc, col("event_type").asc)
        ranked += df.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rn") <= 2)
          .select(unix_timestamp(col("h")), col("event_type"), col("n"))
          .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        ()
      }.start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    // final re-rank equals the batch top-2 over ALL data
    val all = (b1 ++ b2).toDF
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy(col("n").desc, col("event_type").asc)
    val batch = all
      .groupBy(window(col("ts"), "1 hour").getField("start").as("h"), col("event_type"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 2)
      .select(unix_timestamp(col("h")), col("event_type"), col("n"))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(ranked.last.sortBy(x => (x._1, x._3 * -1, x._2)) ==
           batch.sortBy(x => (x._1, x._3 * -1, x._2)))
    // and the mid-stream rank was a valid top-2 of the PREFIX
    assert(ranked.head.nonEmpty && ranked.head.size <= 4)
  }

  // Streaming MV maintenance (stream_mv_maintain's machinery): the
  // per-batch mergePartials must reach the batch aggregate EXACTLY for
  // any batch split — asserted over a genuinely multi-batch replay (a
  // single-batch run would make the equality vacuous).
  test("streaming MV maintenance merges several micro-batches to the batch summary") {
    import org.apache.spark.sql.streaming.Trigger
    val sf = "/root/testdata/sf0.001"
    val tmp = Tables.scratchDir("graft_stream_mv_spec")
    val srcDir = tmp.resolve("src")
    val sumDir = tmp.resolve("mv").toString
    java.nio.file.Files.createDirectories(srcDir)
    val ev = Tables.events(spark, sf)
      .select(col("event_type"),
              org.apache.spark.sql.functions.datediff(
                col("ts").cast("date"),
                org.apache.spark.sql.functions.to_date(
                  org.apache.spark.sql.functions.lit("2023-12-31")))
                .cast("bigint").as("day"),
              org.apache.spark.sql.functions.round(col("value") * 100)
                .cast("bigint").as("cents"))
    ev.repartition(4).write.mode("overwrite").parquet(srcDir.toString)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    val mergeBatch: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, _) => {
      batches.incrementAndGet()
      import org.apache.spark.sql.functions.{count => scount, lit => slit, max => smax, min => smin, sum => ssum}
      val partial = batch.groupBy("event_type", "day")
        .agg(scount(slit(1)).as("n"), ssum(col("cents")).as("sc"),
             smin(col("cents")).as("mn"), smax(col("cents")).as("mx"))
      val ss = batch.sparkSession
      val merged =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(sumDir)))
          graft.plans.MvMaintain.mergePartials(
            ss.read.parquet(sumDir), partial, Seq("event_type", "day"),
            Set("n", "sc"), Set("mn"), Set("mx"))
        else partial
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
    assert(batches.get() >= 3,
           s"only ${batches.get()} micro-batch(es) ran - the merge equality would be vacuous")
    import org.apache.spark.sql.functions.{count => scount, lit => slit, max => smax, min => smin, sum => ssum}
    val got = spark.read.parquet(sumDir).orderBy("event_type", "day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    val want = ev.groupBy("event_type", "day")
      .agg(scount(slit(1)).as("n"), ssum(col("cents")).as("sc"),
           smin(col("cents")).as("mn"), smax(col("cents")).as("mx"))
      .orderBy("event_type", "day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(got.toSeq == want.toSeq,
           "multi-batch maintained summary must equal the batch aggregate")
  }
}
