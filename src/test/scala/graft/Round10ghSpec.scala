package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 waves 7–8: brute-force recomputations and plan-shape checks. */
class Round10ghSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("graph_clustering_coeff matches a driver-side adjacency recomputation") {
    val out = SparkEntry.queries("graph_clustering_coeff")(spark, sf).collect()
      .map(r => r.getAs[Long]("v") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("t"))).toMap
    val nRows = Tables(spark, sf, "documents").count()
    val edges = scala.collection.mutable.Set[(Long, Long)]()
    for (id <- 0L until nRows if id % 4 != 0; k <- 1L to (1 + id % 2)) {
      val dst = (id * 3 + k) % nRows
      if (id != dst) edges += ((math.min(id, dst), math.max(id, dst)))
    }
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set())
    for ((a, b) <- edges) { adj(a) += b; adj(b) += a }
    val expected = adj.collect { case (v, ns) if ns.size >= 2 =>
      val t = ns.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      v -> (ns.size.toLong, t.toLong)
    }.toMap
    assert(out == expected)
  }

  test("ts_week_over_week: counts rebuild from a direct weekly aggregate") {
    val out = SparkEntry.queries("ts_week_over_week")(spark, sf).collect()
    val direct = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 604800000000L").as("wk"))
      .count().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("wk")) -> r.getAs[Long]("count"))
      .toMap
    for (r <- out) {
      val k = (r.getAs[String]("event_type"), r.getAs[Long]("wk"))
      assert(r.getAs[Long]("c") == direct(k))
      // when the directly preceding week is observed, lag must bind it
      direct.get((k._1, k._2 - 1)).foreach(p => assert(r.getAs[Long]("prev_c") == p))
    }
  }

  test("quality_outlier_iqr: quartiles match a driver-side sorted pick") {
    val out = SparkEntry.queries("quality_outlier_iqr")(spark, sf).collect()
    val byFlag = Tables(spark, sf, "lineitem")
      .select(col("l_returnflag"), round(col("l_extendedprice") * 100).cast("bigint").as("c"))
      .collect().groupBy(_.getString(0))
    for (r <- out) {
      val cents = byFlag(r.getAs[String]("l_returnflag")).map(_.getLong(1)).sorted
      val n = cents.length
      // smallest value whose inclusive cumulative count ·4 ≥ n (resp. 3n)
      val q1 = cents(math.ceil(n / 4.0).toInt - 1)
      val q3 = cents(math.ceil(3 * n / 4.0).toInt - 1)
      assert(r.getAs[Long]("q1_cents") == q1)
      assert(r.getAs[Long]("q3_cents") == q3)
      val iqr = q3 - q1
      assert(r.getAs[Long]("n_out_low") == cents.count(c => 2 * c < 2 * q1 - 3 * iqr))
      assert(r.getAs[Long]("n_out_high") == cents.count(c => 2 * c > 2 * q3 + 3 * iqr))
    }
  }

  test("text_template_shape: every reported group really shares its silhouette") {
    val out = SparkEntry.queries("text_template_shape")(spark, sf).collect()
    assert(out.forall(_.getAs[Long]("n_docs") >= 2))
    val shapes = Tables(spark, sf, "documents")
      .select(col("doc_id"), array_join(expr(
        "transform(slice(split(text, ' '), 1, 12), x -> length(x))"), "-").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- out) {
      assert(shapes(r.getAs[Long]("first_doc")) == r.getAs[String]("shape"))
      assert(shapes(r.getAs[Long]("last_doc")) == r.getAs[String]("shape"))
    }
  }

  test("ts_cohort_ltv_matrix: cells conserve total purchase revenue; cumulative is monotone") {
    val out = SparkEntry.queries("ts_cohort_ltv_matrix")(spark, sf).collect()
    val total = Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .agg(sum(round(col("value") * 100).cast("bigint"))).collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("rev_cents")).sum == total)
    out.groupBy(_.getAs[Long]("cohort_wk")).foreach { case (_, rows) =>
      val cums = rows.sortBy(_.getAs[Long]("age_wk")).map(_.getAs[Long]("cum_rev_cents"))
      assert(cums.zip(cums.tail).forall { case (a, b) => b > a })
    }
  }

  test("predicate_exists_project plans an existence join and keeps every probe row") {
    val df = SparkEntry.queries("predicate_exists_project")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("ExistenceJoin"), s"expected ExistenceJoin:\n$plan")
    val out = df.collect()
    assert(out.length == Tables(spark, sf, "customer").count())
    val big = Tables(spark, sf, "orders").filter(col("o_totalprice") > 300000.0)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => r.getAs[Boolean]("has_big_order") == big(r.getAs[Long]("c_custkey"))))
  }

  test("ts_interval_union matches a driver-side merge per user") {
    val out = SparkEntry.queries("ts_interval_union")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_runs"), r.getAs[Long]("covered_us"))).toMap
    val span = 300000000L
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .collect().groupBy(_.getLong(0))
    val expected = byUser.map { case (u, rows) =>
      val ts = rows.map(_.getLong(1)).sorted
      var runs = 0L; var covered = 0L
      var start = ts.head; var end = ts.head + span
      for (t <- ts.tail) {
        if (t > end) { runs += 1; covered += end - start; start = t; end = t + span }
        else end = math.max(end, t + span)
      }
      runs += 1; covered += end - start
      u -> (runs, covered)
    }
    assert(out == expected)
  }

  test("window_vwap_running: each prefix ratio sits between that prefix's price extremes") {
    val out = SparkEntry.queries("window_vwap_running")(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val v = r.getAs[Double]("vwap")
      assert(r.getAs[Long]("cum_v") >= 1)
      assert(v * r.getAs[Long]("cum_v") - r.getAs[Long]("cum_pv") < 1.0 &&
        r.getAs[Long]("cum_pv") - v * r.getAs[Long]("cum_v") < 1.0)
    }
  }
}
