package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 16–18: conservation, inversion, and frame-order checks. */
class Round10prSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_sla_attainment: ppm is the exact floor ratio; orders conserve") {
    val out = SparkEntry.queries("ts_sla_attainment")(spark, sf).collect()
    val shipped = Tables(spark, sf, "lineitem").select("l_orderkey").distinct().count()
    assert(out.map(_.getAs[Long]("n_orders")).sum == shipped)
    for (r <- out) {
      assert(r.getAs[Long]("attain_ppm") ==
        r.getAs[Long]("n_attained") * 1000000L / r.getAs[Long]("n_orders"))
      assert(r.getAs[Long]("n_attained") <= r.getAs[Long]("n_orders"))
    }
  }

  test("vec_cluster_cohesion: scores are valid cosines per populated label") {
    val out = SparkEntry.queries("vec_cluster_cohesion")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n_members")).sum ==
      Tables(spark, sf, "embeddings").count())
    assert(out.forall { r =>
      val c = r.getAs[Double]("cohesion"); c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9
    })
  }

  test("quality_temporal_integrity: violation census matches a direct count") {
    val out = SparkEntry.queries("quality_temporal_integrity")(spark, sf).collect()
    val joined = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
    assert(out.map(_.getAs[Long]("n_lines")).sum == joined.count())
    assert(out.map(_.getAs[Long]("n_violations")).sum ==
      joined.filter(col("l_shipdate").cast("date") < col("o_orderdate").cast("date")).count())
  }

  test("sink_dynamic_partition_overwrite: F doubled, other partitions untouched") {
    val out = SparkEntry.queries("sink_dynamic_partition_overwrite")(spark, sf).collect()
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.length == base.size)
    for (r <- out) {
      val (st, c0) = base(r.getAs[Long]("o_orderkey"))
      assert(r.getAs[String]("o_orderstatus") == st)
      assert(r.getAs[Long]("cents") == (if (st == "F") 2 * c0 else c0))
    }
  }

  test("ts_new_vs_returning: growth accounting identities") {
    val out = SparkEntry.queries("ts_new_vs_returning")(spark, sf).collect()
    assert(out.head.getAs[Long]("n_returning") == 0, "week one is all new")
    assert(out.forall(r => r.getAs[Long]("n_active") ==
      r.getAs[Long]("n_new") + r.getAs[Long]("n_returning")))
    assert(out.map(_.getAs[Long]("n_new")).sum ==
      Tables.events(spark, sf).select("user_id").distinct().count())
  }

  test("scalar_binary_ops: prefix and shard invert the digest arithmetic") {
    val out = SparkEntry.queries("scalar_binary_ops")(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- out) {
      val h = docs(r.getAs[Long]("doc_id"))
      assert(r.getAs[String]("prefix_hex") == h.take(8).toUpperCase)
      assert(r.getAs[Long]("n_bytes") == 16)
      assert(r.getAs[Long]("shard") == java.lang.Long.parseLong(h.take(8), 16) % 64)
    }
  }

  test("scd1_latest_attrs: one row per customer carrying the true latest order") {
    val out = SparkEntry.queries("scd1_latest_attrs")(spark, sf).collect()
    val maxDate = Tables(spark, sf, "orders")
      .groupBy("o_custkey").agg(max(col("o_orderdate").cast("date")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDate(1)).toMap
    assert(out.length == maxDate.size)
    assert(out.forall(r =>
      r.getAs[java.sql.Date]("latest_date") == maxDate(r.getAs[Long]("o_custkey"))))
  }

  test("window_weighted_ma: a driver-side indexed fold agrees for sampled users") {
    val out = SparkEntry.queries("window_weighted_ma")(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    val hist = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
              round(col("value") * 100).cast("bigint").as("x"))
      .collect().groupBy(_.getLong(0))
    for ((u, rows) <- out.take(5)) {
      val xs = hist(u).sortBy(r => (r.getLong(1), r.getLong(2)))
      val byId = rows.map(r => r.getAs[Long]("event_id") -> r).toMap
      for (i <- xs.indices) {
        val win = xs.slice(math.max(0, i - 9), i + 1).map(_.getLong(3))
        val wnum = win.zipWithIndex.map { case (x, j) => x * (j + 1) }.sum
        val r = byId(xs(i).getLong(2))
        assert(r.getAs[Long]("wnum") == wnum)
        assert(r.getAs[Long]("wden") == win.length.toLong * (win.length + 1) / 2)
      }
    }
  }

  test("sql_named_window: shared spec yields consistent sequence and running sum") {
    val out = SparkEntry.queries("sql_named_window")(spark, sf).collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    for ((_, rows) <- out.take(10)) {
      val sorted = rows.sortBy(_.getAs[Long]("seq"))
      assert(sorted.map(_.getAs[Long]("seq")).toSeq == (1L to rows.length).toSeq)
      assert(sorted.last.getAs[Long]("run_cents") ==
        rows.map(_.getAs[Long]("cents")).sum)
      assert(sorted.head.isNullAt(5), "first row has no predecessor")
    }
  }
}
