package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 3–4: invariants the oracle hash can't express — mass
  * conservation, monotonicity, symmetry, and bound checks recomputed
  * independently of the query plans.
  */
class Round10cdSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("quality_k_anonymity: classes partition the customer population") {
    val out = SparkEntry.queries("quality_k_anonymity")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n_customers")).sum ==
      Tables(spark, sf, "customer").count())
    assert(out.forall(r => r.getAs[Long]("k_class") >= 1 &&
      r.getAs[Long]("k_class") <= 6))
    // class k<6 cells hold exactly k members each
    for (r <- out if r.getAs[Long]("k_class") < 6)
      assert(r.getAs[Long]("n_customers") ==
        r.getAs[Long]("k_class") * r.getAs[Long]("n_cells"))
  }

  test("quality_snapshot_drift: exact integer numerator agrees with the float ppm sign") {
    val out = SparkEntry.queries("quality_snapshot_drift")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out)
      assert(math.signum(r.getAs[Long]("drift_num").toDouble) ==
        math.signum(r.getAs[Double]("drift_ppm")) ||
        r.getAs[Double]("drift_ppm") == 0.0)
  }

  test("agg_ecdf_grid: cumulative counts are monotone and end at N / 1e6 ppm") {
    val out = SparkEntry.queries("agg_ecdf_grid")(spark, sf).collect()
    val nle = out.map(_.getAs[Long]("n_le"))
    assert(nle.zip(nle.tail).forall { case (a, b) => a < b })
    assert(nle.last == Tables(spark, sf, "orders").count())
    assert(out.last.getAs[Double]("f_ppm") == 1000000.0)
  }

  test("text_ngram_novelty: doc 0 is fully novel; novel grams sum to the distinct gram count") {
    val out = SparkEntry.queries("text_ngram_novelty")(spark, sf).collect()
    val d0 = out.find(_.getAs[Long]("doc_id") == 0).get
    assert(d0.getAs[Long]("n_novel") == d0.getAs[Long]("n_grams"))
    val totalNovel = out.map(_.getAs[Long]("n_novel")).sum
    val distinctGrams = Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', t[i + 1]))"))
        .as("g"))
      .distinct().count()
    assert(totalNovel == distinctGrams,
      "every distinct gram is novel in exactly one (its first) doc")
  }

  test("sample_negative_pairs: deterministic, in-range, no self pairs") {
    val q = SparkEntry.queries("sample_negative_pairs")
    val a = q(spark, sf).collect()
    val b = q(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "no RNG — identical across runs")
    val n = Tables(spark, sf, "documents").count()
    assert(a.forall(r => r.getAs[Long]("neg_id") >= 0 && r.getAs[Long]("neg_id") < n))
    assert(a.forall(r => r.getAs[Long]("neg_id") != r.getAs[Long]("doc_id")))
    assert(a.length <= 3 * n && a.length > 2 * n)
  }

  test("window_rolling_corr: correlation bounded by 1 in magnitude") {
    val out = SparkEntry.queries("window_rolling_corr")(spark, sf).collect()
    assert(out.forall { r =>
      val c = r.getAs[Double]("corr20"); r.isNullAt(2) || math.abs(c) <= 1.0 + 1e-9
    })
  }

  test("join_fuzzy_name: matches are within threshold and never self") {
    val out = SparkEntry.queries("join_fuzzy_name")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("n_similar") >= 1))
    assert(out.forall(r => r.getAs[Long]("min_dist") <= 3))
    assert(out.forall(r => r.getAs[Long]("first_match") != r.getAs[Long]("p_partkey")))
  }

  test("agg_rate_wilson_ci: interval brackets the point estimate inside [0,1]") {
    val out = SparkEntry.queries("agg_rate_wilson_ci")(spark, sf).collect()
    for (r <- out) {
      val (p, lo, hi) = (r.getAs[Double]("p_hat"),
        r.getAs[Double]("wilson_lo"), r.getAs[Double]("wilson_hi"))
      assert(lo >= 0.0 && hi <= 1.0 && lo <= p && p <= hi)
    }
  }

  test("ts_period_autocorr: chosen lag is in the searched range") {
    val out = SparkEntry.queries("ts_period_autocorr")(spark, sf).collect()
    assert(out.length == 5)
    assert(out.forall(r => r.getAs[Long]("best_lag") >= 2 &&
      r.getAs[Long]("best_lag") <= 36))
  }

  test("window_streak_increase: runs partition each user's events") {
    val out = SparkEntry.queries("window_streak_increase")(spark, sf).collect()
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    for (r <- out) {
      val u = r.getAs[Long]("user_id")
      assert(r.getAs[Long]("max_run") >= 1 && r.getAs[Long]("max_run") <= perUser(u))
      assert(r.getAs[Long]("n_islands") <= perUser(u))
    }
  }

  test("scalar_haversine_geo: distances within the globe's half circumference") {
    val out = SparkEntry.queries("scalar_haversine_geo")(spark, sf).collect()
    val maxKm = math.Pi * 6371.0
    for (r <- out) {
      assert(r.getAs[Double]("lat") >= -60.0 && r.getAs[Double]("lat") < 60.0)
      assert(r.getAs[Double]("lon") >= -180.0 && r.getAs[Double]("lon") < 180.0)
      val km = r.getAs[Double]("km_from_origin")
      assert(km >= 0.0 && km <= maxKm + 1e-6)
    }
  }

  test("ts_survival_km: survival is non-increasing from ~1 to 0") {
    val out = SparkEntry.queries("ts_survival_km")(spark, sf).collect()
    val s = out.map(_.getAs[Double]("s_km"))
    assert(s.zip(s.tail).forall { case (a, b) => b <= a + 1e-9 })
    assert(s.head < 1.0 && s.head > 0.0)
    assert(s.last == 0.0, "everyone eventually ships — the last row pins 0")
    // at-risk bookkeeping: first row's n_risk is the full cohort
    assert(out.head.getAs[Long]("n_risk") == out.map(_.getAs[Long]("d")).sum)
  }
}
