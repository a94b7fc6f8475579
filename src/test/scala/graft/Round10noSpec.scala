package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 14–15: algebraic identities and brute-force BFS/moment
  * recomputations.
  */
class Round10noSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_price_volume_bridge: volume + price effects exactly bridge the revenue delta") {
    val out = SparkEntry.queries("agg_price_volume_bridge")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out)
      assert(r.getAs[Long]("volume_effect_x_n0") + r.getAs[Long]("price_effect_x_n0")
        == r.getAs[Long]("delta_rev_x_n0"), "Laspeyres identity must hold exactly")
  }

  test("agg_decay_engagement: the last event contributes full weight") {
    val out = SparkEntry.queries("agg_decay_engagement")(spark, sf).collect()
    for (r <- out) {
      val score = r.getAs[Double]("decay_score")
      assert(score >= 1.0 - 1e-9, "the user's own last event has weight 2^0 = 1")
      assert(score <= r.getAs[Long]("n_events") + 1e-9)
    }
  }

  test("agg_abc_classification: classes conserve revenue; A respects the 80% cut") {
    val out = SparkEntry.queries("agg_abc_classification")(spark, sf).collect()
      .map(r => r.getAs[String]("abc") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("class_cents"))).toMap
    val rev = Tables(spark, sf, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("c"))
      .collect().map(_.getLong(1))
    assert(out.values.map(_._1).sum == rev.length)
    val tot = rev.sum
    assert(out.values.map(_._2).sum == tot)
    assert(out("A")._2 * 5 <= tot * 4, "class A never exceeds the 80% boundary")
    assert((out("A")._2 + out("B")._2) * 20 <= tot * 19)
  }

  test("ts_dormancy_reactivation matches a driver-side gap walk") {
    val out = SparkEntry.queries("ts_dormancy_reactivation")(spark, sf).collect()
    val hist = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      .collect().groupBy(_.getLong(0))
    for (r <- out.take(25)) {
      val ts = hist(r.getAs[Long]("user_id")).sortBy(x => (x.getLong(1), x.getLong(2)))
        .map(_.getLong(1))
      val gaps = ts.zip(ts.tail).map { case (a, b) => b - a }
      assert(r.getAs[Long]("n_events") == ts.length)
      assert(r.getAs[Long]("n_reactivations") == gaps.count(_ > 604800000000L))
      if (gaps.nonEmpty) assert(r.getAs[Long]("max_gap_us") == gaps.max)
    }
  }

  test("graph_harmonic_sampled matches a driver-side multi-source BFS") {
    val out = SparkEntry.queries("graph_harmonic_sampled")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_sources"), r.getAs[Long]("harmonic12"))).toMap
    val nRows = Tables(spark, sf, "documents").count()
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set())
    for (id <- 0L until nRows if id % 4 != 0; k <- 1L to (1 + id % 2)) {
      val dst = (id * 3 + k) % nRows
      if (id != dst) { adj(id) += dst; adj(dst) += id }
    }
    val sources = (0L until nRows).filter(_ % 97 == 0)
    val acc = scala.collection.mutable.Map[Long, (Long, Long)]().withDefaultValue((0L, 0L))
    for (s <- sources) {
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = Set(s)
      for (d <- 1 to 4) {
        frontier = frontier.flatMap(adj).filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      for ((v, dd) <- dist if dd >= 1) {
        val (n, h) = acc(v); acc(v) = (n + 1, h + 12 / dd)
      }
    }
    assert(out == acc.toMap)
  }

  test("window_rolling_skew matches a driver-side moment walk for sampled users") {
    val out = SparkEntry.queries("window_rolling_skew")(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    val hist = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
              round(col("value") * 100).cast("bigint").as("x"))
      .collect().groupBy(_.getLong(0))
    for ((u, rows) <- out.take(5)) {
      val xs = hist(u).sortBy(r => (r.getLong(1), r.getLong(2)))
      val byId = rows.map(r => r.getAs[Long]("event_id") -> r).toMap
      for (i <- xs.indices if i >= 19) {
        val win = xs.slice(i - 19, i + 1).map(_.getLong(3).toDouble)
        val n = 20.0
        val m = win.sum / n
        val m2 = win.map(x => (x - m) * (x - m)).sum / n
        val m3 = win.map(x => math.pow(x - m, 3)).sum / n
        val expect = m3 / math.pow(m2, 1.5)
        val got = byId(xs(i).getLong(2)).getAs[Double]("skew20")
        assert(math.abs(got - expect) < 1e-3, s"skew $got vs $expect")
      }
    }
  }
}
