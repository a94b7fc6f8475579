package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Wave-64 bounds: the sliding HLL estimate is identical between the
  * MemoryStream path and the batch path (register-wise sketch merges are
  * order-independent) and within ±5% of exact distinct per window; the
  * analyzed statistics match exact counts and reach the catalog.
  */
class Round11hSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("stream_sliding_distinct: stream == batch, within 5% of exact") {
    val sp = spark; import sp.implicits._
    implicit val sq = sp.sqlContext

    val batch = SparkEntry.queries("stream_sliding_distinct")(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    assert(batch.nonEmpty)

    // exact distinct per window for the error bound
    val exact = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("w.start"), col("n")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    batch.foreach { case (w, est) =>
      val ex = exact(w)
      assert(math.abs(est - ex).toDouble <= math.max(2.0, 0.05 * ex),
             s"window $w: est $est vs exact $ex")
    }

    // stream the same events through MemoryStream in two batches
    val ev = Tables.events(spark, sf)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect()
    val mem = MemoryStream[Ev]
    val q = StreamOps.slidingDistinct(mem.toDF())
      .writeStream.format("memory").queryName("w64_sliding_distinct")
      .outputMode(OutputMode.Complete()).start()
    val (a, b) = ev.splitAt(ev.length / 2)
    mem.addData(a.toIndexedSeq); q.processAllAvailable()
    mem.addData(b.toIndexedSeq); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("w64_sliding_distinct").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).sortBy(_._1.getTime)
    assert(streamed.toSeq == batch.toSeq.sortBy(_._1.getTime),
           "stream and batch sketches must agree exactly")
  }

  test("sink_analyze_table_stats counts exactly and reaches the catalog") {
    val rows = SparkEntry.queries("sink_analyze_table_stats")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
           Seq("nation", "region", "supplier"))
    val want = Map(
      "region" -> Tables(spark, sf, "region").count(),
      "nation" -> Tables(spark, sf, "nation").count(),
      "supplier" -> Tables(spark, sf, "supplier").count())
    rows.foreach(r => assert(r.getLong(1) == want(r.getString(0))))
    // the analyzed table the key just made must expose catalog stats,
    // and with CBO on they reach the PLAN's cost model
    val t = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("stat_region_")).max
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    assert(meta.stats.flatMap(_.rowCount).exists(_.longValue == want("region")))
    assert(meta.stats.exists(_.sizeInBytes > 0))
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table(t).queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.longValue == want("region")),
             "CBO must see the analyzed rowCount")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }
}
