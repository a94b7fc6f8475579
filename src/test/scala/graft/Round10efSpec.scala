package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 5–6: brute-force recomputations and conservation checks
  * independent of the query plans (and of the DuckDB oracle formulations).
  */
class Round10efSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("join_spatial_grid matches the O(n²) brute force at fixture scale") {
    val out = SparkEntry.queries("join_spatial_grid")(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        (r.getAs[Long]("n_neighbors"), r.getAs[Long]("min_d2"))).toMap
    val pts = Tables(spark, sf, "customer").select("c_custkey").collect()
      .map(_.getLong(0)).map(k => (k, k * 17 % 12000, k * 31 % 36000))
    val brute = scala.collection.mutable.Map[Long, (Long, Long)]()
    for ((ka, la, na) <- pts; (kb, lb, nb) <- pts if ka != kb) {
      val d2 = (la - lb) * (la - lb) + (na - nb) * (na - nb)
      if (d2 <= 10000) {
        val (c, m) = brute.getOrElse(ka, (0L, Long.MaxValue))
        brute(ka) = (c + 1, math.min(m, d2))
      }
    }
    assert(out == brute.toMap, "grid-blocked result must equal brute force")
  }

  test("ts_conversion_window: delay iff converted, within the hour") {
    val out = SparkEntry.queries("ts_conversion_window")(spark, sf).collect()
    val viewUsers = Tables.events(spark, sf)
      .filter(col("event_type") === "view").select("user_id").distinct().count()
    assert(out.length == viewUsers)
    for (r <- out) {
      if (r.getAs[Long]("converted") == 1) {
        val d = r.getAs[Long]("delay_us")
        assert(d > 0 && d <= 3600000000L)
      } else assert(r.isNullAt(3))
    }
  }

  test("agg_best_split_gini matches a driver-side exhaustive search") {
    val row = SparkEntry.queries("agg_best_split_gini")(spark, sf).collect()(0)
    val ev = Tables.events(spark, sf)
      .select(round(col("value") * 100).cast("bigint").as("c"),
              (col("event_type") === "click").cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nt = ev.length.toLong
    val kt = ev.map(_._2).sum
    def gini(k: Long, n: Long) =
      if (n == 0) 0.0
      else 1.0 - math.pow(k.toDouble / n, 2) - math.pow((n - k).toDouble / n, 2)
    val best = (1 to 19).map { b =>
      val t = b * 5000L
      val nl = ev.count(_._1 < t).toLong // buckets 0..b-1 ⇔ cents < t
      val kl = ev.filter(_._1 < t).map(_._2).sum
      val imp = (nl.toDouble / nt) * gini(kl, nl) +
        ((nt - nl).toDouble / nt) * gini(kt - kl, nt - nl)
      (math.rint(imp * 1e6) / 1e6, t, nl, kl)
    }.filter(c => c._3 > 0 && c._3 < nt).minBy(c => (c._1, c._2))
    assert(row.getAs[Long]("t_cents") == best._2)
    assert(row.getAs[Long]("nl") == best._3)
    assert(row.getAs[Long]("kl") == best._4)
    assert(math.abs(row.getAs[Double]("impurity") - best._1) <= 1e-6)
  }

  test("scalar_useragent_parse: parsed fields invert the minting arithmetic") {
    val out = SparkEntry.queries("scalar_useragent_parse")(spark, sf).collect()
    val browsers = Array("Chrome", "Firefox", "Safari", "Edge")
    val oses = Array("Windows NT 10.0", "Macintosh", "X11; Linux x86_64")
    for (r <- out.take(1000)) {
      val k = r.getAs[Long]("o_orderkey")
      assert(r.getAs[String]("browser") == browsers((k % 4).toInt))
      assert(r.getAs[Long]("major") == k % 40 + 80)
      assert(r.getAs[String]("os") == oses((k % 3).toInt))
    }
  }

  test("ts_attribution_lasttouch: credits conserve the purchase count") {
    val out = SparkEntry.queries("ts_attribution_lasttouch")(spark, sf).collect()
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(out.map(_.getAs[Long]("n_credits")).sum == purchases)
    assert(out.forall(_.getAs[String]("channel") != "purchase"))
  }

  test("scalar_base62_codec: decode inverts encode on every row") {
    val out = SparkEntry.queries("scalar_base62_codec")(spark, sf).collect()
    assert(out.forall(r => r.getAs[Long]("decoded") == r.getAs[Long]("o_orderkey")))
    assert(out.forall(_.getAs[String]("code").length == 6))
    assert(out.map(_.getAs[String]("code")).distinct.length == out.length,
      "codes are injective")
  }

  test("agg_hhi_concentration: bounded by [1/n, 1]") {
    val out = SparkEntry.queries("agg_hhi_concentration")(spark, sf).collect()
    for (r <- out) {
      val h = r.getAs[Double]("hhi")
      val n = r.getAs[Long]("n_customers")
      assert(h >= 1.0 / n - 1e-9 && h <= 1.0 + 1e-9)
    }
  }

  test("agg_cooccurrence_pmi: pair counts bounded by marginals") {
    val out = SparkEntry.queries("agg_cooccurrence_pmi")(spark, sf).collect()
    assert(out.length <= 10)
    val cx = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 3600000000L").as("hr"),
              col("event_type")).distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    for (r <- out) {
      val c = r.getAs[Long]("cxy")
      assert(c <= math.min(cx(r.getAs[String]("x")), cx(r.getAs[String]("y"))))
    }
  }
}
