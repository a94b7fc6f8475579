package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 12–13: brute-force recomputations, conservation, and
  * the sorted-fold float determinism contract.
  */
class Round10lmSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("window_nth_ignore_nulls: frame walk matches for sampled users") {
    val out = SparkEntry.queries("window_nth_ignore_nulls")(spark, sf).collect()
    assert(out.forall(_.getAs[Long]("n_good") <= 10))
    val hist = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
              col("event_type"), round(col("value") * 100).cast("bigint").as("c"))
      .collect().groupBy(_.getLong(0))
    val byUser = out.groupBy(_.getAs[Long]("user_id"))
    for ((u, rows) <- byUser.take(5)) {
      val ordered = hist(u).sortBy(r => (r.getLong(2), r.getLong(1)))
      val xs = ordered.map(r => if (r.getString(3) != "error") Some(r.getLong(4)) else None)
      val expect = ordered.indices.map { i =>
        val frame = xs.slice(math.max(0, i - 9), i + 1).flatten
        (ordered(i).getLong(1), frame.lastOption, frame.headOption, frame.length.toLong)
      }.map(t => t._1 -> (t._2, t._3, t._4)).toMap
      for (r <- rows) {
        val e = expect(r.getAs[Long]("event_id"))
        assert(Option(r.getAs[java.lang.Long]("last_good")).map(_.toLong) == e._1)
        assert(Option(r.getAs[java.lang.Long]("oldest_good")).map(_.toLong) == e._2)
        assert(r.getAs[Long]("n_good") == e._3)
      }
    }
  }

  test("sql_values_lookup: the five SLA classes partition all orders") {
    val out = SparkEntry.queries("sql_values_lookup")(spark, sf).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Long]("n_orders")).sum ==
      Tables(spark, sf, "orders").count())
  }

  test("scalar_semver_compare: sort key order is exactly semver order") {
    val out = SparkEntry.queries("scalar_semver_compare")(spark, sf).collect()
    val bySort = out.sortBy(_.getAs[String]("sort_key"))
    val byVer = out.sortBy(r => (r.getAs[Long]("major"), r.getAs[Long]("minor"),
      r.getAs[Long]("patch")))
    assert(bySort.map(_.getAs[String]("ver")).toSeq ==
      byVer.map(_.getAs[String]("ver")).toSeq)
    for (r <- out)
      assert((r.getAs[Long]("newer_than_2_0_0") == 1) ==
        (Seq(r.getAs[Long]("major"), r.getAs[Long]("minor"), r.getAs[Long]("patch"))
          .zip(Seq(2L, 0L, 0L))
          .find { case (a, b) => a != b }.exists { case (a, b) => a > b }))
  }

  test("agg_tail_cvar matches a driver-side sorted-tail recomputation") {
    val out = SparkEntry.queries("agg_tail_cvar")(spark, sf).collect()
    val byPr = Tables(spark, sf, "orders")
      .select(col("o_orderpriority"), round(col("o_totalprice") * 100).cast("bigint").as("c"))
      .collect().groupBy(_.getString(0))
    for (r <- out) {
      val cents = byPr(r.getAs[String]("o_orderpriority")).map(_.getLong(1)).sorted
      val k = (cents.length + 19) / 20
      val tail = cents.takeRight(k)
      assert(r.getAs[Long]("k") == k)
      assert(r.getAs[Long]("tail_n") == k)
      assert(r.getAs[Long]("tail_cents") == tail.sum)
      assert(r.getAs[Long]("cvar_cents") == tail.sum / k)
    }
  }

  test("graph_adamic_adar matches a driver-side recomputation with the same fold order") {
    val out = SparkEntry.queries("graph_adamic_adar")(spark, sf).collect()
    val edges = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val df = edges.groupBy(_._2).map { case (p, es) => p -> es.length }
      .filter { case (_, n) => n >= 2 && n <= 40 }
    val byPart = edges.filter(e => df.contains(e._2)).groupBy(_._2)
    val pairs = scala.collection.mutable.Map[(Long, Long), List[Int]]()
    for ((p, es) <- byPart; pair <- es.map(_._1).sorted.combinations(2)) {
      val (x, y) = (pair(0), pair(1))
      pairs((x, y)) = df(p) :: pairs.getOrElse((x, y), Nil)
    }
    val scored = pairs.map { case (k, dfs) =>
      // the query folds (df, cnt) cells in df order: mirror that exactly
      val score = dfs.groupBy(identity).toSeq.sortBy(_._1)
        .foldLeft(0.0) { case (acc, (d, cs)) => acc + cs.length / math.log(d.toDouble) }
      (k, dfs.length.toLong, math.rint(score * 1e6) / 1e6)
    }.toSeq.sortBy(t => (-t._3, t._1._1, t._1._2)).take(20)
    assert(out.length == scored.length)
    for ((r, (k, common, score)) <- out.zip(scored)) {
      assert((r.getAs[Long]("a"), r.getAs[Long]("b")) == k)
      assert(r.getAs[Long]("common") == common)
      assert(math.abs(r.getAs[Double]("adamic_adar") - score) <= 1e-6)
    }
  }

  test("adt_result_chain: the taxonomy partitions all orders, payloads respect tags") {
    val out = SparkEntry.queries("adt_result_chain")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n")).sum == Tables(spark, sf, "orders").count())
    for (r <- out) {
      if (r.getAs[String]("tag") == "Ok") {
        assert(r.isNullAt(1), "Ok carries no reason")
        assert(!r.isNullAt(3), "Ok carries the payload sum")
      } else assert(r.isNullAt(3), "Err carries no payload")
    }
  }

  test("ts_session_path: trails are capped at 8 hops of valid event types") {
    val out = SparkEntry.queries("ts_session_path")(spark, sf).collect()
    val types = Set("click", "error", "purchase", "signup", "view")
    for (r <- out) {
      val hops = r.getAs[String]("path").split("->")
      assert(hops.length <= 8)
      assert(hops.forall(types.contains))
      assert(r.getAs[Long]("n_sessions") >= 2)
      assert(r.getAs[Long]("max_depth") >= hops.length)
    }
  }
}
