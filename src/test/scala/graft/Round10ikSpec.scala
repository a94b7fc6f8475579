package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 9–11: independent recomputations and conservation
  * checks (notably: the eager-aggregation rewrite must be RESULT-equal to
  * the naive join-then-aggregate plan it replaces).
  */
class Round10ikSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_cramers_v matches a driver-side contingency recomputation") {
    val row = SparkEntry.queries("agg_cramers_v")(spark, sf).collect()(0)
    val cells = Tables.events(spark, sf)
      .select(col("event_type"), (weekday(col("ts")) + lit(1)).cast("long").as("dow"))
      .collect().groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, v) => k -> v.length.toLong }
    val n = cells.values.sum
    val rm = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val cm = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val chi2 = cells.map { case ((r, c), o) =>
      val e = rm(r).toDouble * cm(c) / n
      (o - e) * (o - e) / e
    }.sum
    assert(math.abs(row.getAs[Double]("chi2") - chi2) < 1e-4)
    val v = math.sqrt(chi2 / (n * math.min(rm.size - 1, cm.size - 1)))
    assert(math.abs(row.getAs[Double]("cramers_v") - v) < 1e-6)
    assert(row.getAs[Double]("cramers_v") >= 0 && row.getAs[Double]("cramers_v") <= 1)
  }

  test("ts_mttr_mtbf matches a driver-side walk of one user's history") {
    val out = SparkEntry.queries("ts_mttr_mtbf")(spark, sf).collect()
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
              col("event_id"), col("event_type"))
      .collect().groupBy(_.getLong(0))
    for (r <- out.take(20)) {
      val hist = byUser(r.getAs[Long]("user_id"))
        .sortBy(x => (x.getLong(1), x.getLong(2)))
      val errs = hist.filter(_.getString(3) == "error").map(_.getLong(1))
      val gaps = errs.zip(errs.tail).map { case (a, b) => b - a }
      assert(r.getAs[Long]("n_gaps") == gaps.length)
      if (gaps.nonEmpty) assert(r.getAs[Long]("mtbf_us") == gaps.sum / gaps.length)
      // recoveries: non-error rows whose immediate predecessor was an error
      val recs = hist.zip(hist.tail).collect {
        case (p, c) if p.getString(3) == "error" && c.getString(3) != "error" =>
          c.getLong(1) - errs.filter(_ < c.getLong(1)).max
      }
      assert(r.getAs[Long]("n_recoveries") == recs.length)
      if (recs.nonEmpty) assert(r.getAs[Long]("mttr_us") == recs.sum / recs.length)
    }
  }

  test("agg_pushdown_eager is result-equal to the naive join-then-aggregate") {
    val eager = SparkEntry.queries("agg_pushdown_eager")(spark, sf).collect()
    val naive = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      .orderBy("c_mktsegment", "c_nationkey")
      .collect()
    assert(eager.toSeq == naive.toSeq)
  }

  test("scd_accumulating_snapshot keeps one row per order with sane spans") {
    val out = SparkEntry.queries("scd_accumulating_snapshot")(spark, sf).collect()
    assert(out.length == Tables(spark, sf, "orders").count())
    for (r <- out if !r.isNullAt(6))
      assert(r.getAs[Long]("ship_span_days") >= 0)
  }

  test("ts_seasonal_additive covers 24 hours from full trend windows only") {
    val out = SparkEntry.queries("ts_seasonal_additive")(spark, sf).collect()
    assert(out.length == 24)
    val spineLen = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 3600000000L").as("hr")).distinct().count()
    assert(out.map(_.getAs[Long]("n")).sum == spineLen - 24)
  }

  test("agg_diversity_simpson bounded by 1 - 1/k for k observed types") {
    val out = SparkEntry.queries("agg_diversity_simpson")(spark, sf).collect()
    assert(out.forall { r =>
      val s = r.getAs[Double]("simpson"); s >= 0.0 && s <= 0.8 + 1e-9
    })
  }

  test("text_vocab_growth: both curves are monotone and end at corpus totals") {
    val out = SparkEntry.queries("text_vocab_growth")(spark, sf).collect()
    val toks = out.map(_.getAs[Long]("cum_tokens"))
    val voc = out.map(_.getAs[Long]("cum_vocab"))
    assert(toks.zip(toks.tail).forall { case (a, b) => a < b })
    assert(voc.zip(voc.tail).forall { case (a, b) => a <= b })
    val tok = Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
    assert(toks.last == tok.count())
    assert(voc.last == tok.distinct().count())
  }

  test("scalar_phone_e164: every normalized number is +1 followed by 10 digits") {
    val out = SparkEntry.queries("scalar_phone_e164")(spark, sf).collect()
    assert(out.forall(_.getAs[String]("e164").matches("\\+1[0-9]{10}")))
    assert(out.forall(_.getAs[Long]("n_digits") == 10))
  }

  test("agg_rfm_segmentation: segments partition the customer base with valid digits") {
    val out = SparkEntry.queries("agg_rfm_segmentation")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n_customers")).sum ==
      Tables(spark, sf, "orders").select("o_custkey").distinct().count())
    for (r <- out) {
      val s = r.getAs[Long]("segment")
      assert(Seq(s / 100, s / 10 % 10, s % 10).forall(d => d >= 1 && d <= 3))
    }
  }

  test("join_nearest_geo agrees with join_spatial_grid's minimum distances") {
    val nearest = SparkEntry.queries("join_nearest_geo")(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Long]("d2")).toMap
    val grid = SparkEntry.queries("join_spatial_grid")(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Long]("min_d2")).toMap
    assert(nearest == grid)
  }

  test("text_collocation_g2: statistics are non-negative with the declared support") {
    val out = SparkEntry.queries("text_collocation_g2")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 50)
    assert(out.forall(_.getAs[Long]("c12") >= 16))
    assert(out.forall(_.getAs[Double]("g2") >= -1e-6))
  }

  test("agg_target_encode_loo: encoding stays in [0,1] and averages to the category rate") {
    val out = SparkEntry.queries("agg_target_encode_loo")(spark, sf).collect()
    assert(out.forall { r =>
      val t = r.getAs[Double]("te_loo"); t >= 0.0 && t <= 1.0
    })
    // mean of LOO encodings over a category equals the category rate
    val byCat = out.groupBy(_.getAs[String]("event_type"))
    for ((_, rows) <- byCat) {
      val rate = rows.map(_.getAs[Long]("y")).sum.toDouble / rows.length
      val meanTe = rows.map(_.getAs[Double]("te_loo")).sum / rows.length
      assert(math.abs(meanTe - rate) < 1e-4)
    }
  }
}
