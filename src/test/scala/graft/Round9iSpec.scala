package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 ninth wave: invariants stronger than the oracle hash alone. */
class Round9iSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sql_insert_select_etl: appended table reproduces the base aggregate") {
    val out = SparkEntry.queries("sql_insert_select_etl")(spark, sf).collect()
      .map(r => r.getAs[String]("o_orderstatus") ->
        (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap
    val base = Tables(spark, sf, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
           sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      .collect().map(r => r.getAs[String]("o_orderstatus") ->
        (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap
    assert(out == base, "seed + two INSERTs must equal the base table exactly")
  }

  test("vec_pca_top2_deflate: orthogonal components, ordered variance") {
    val out = SparkEntry.queries("vec_pca_top2_deflate")(spark, sf).collect()
    assert(out.length == 128)
    val v1 = out.filter(_.getAs[Long]("component") == 1L)
      .sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("weight"))
    val v2 = out.filter(_.getAs[Long]("component") == 2L)
      .sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("weight"))
    val dot = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-3, s"components must be orthogonal, dot=$dot")
    assert(math.abs(v1.map(x => x * x).sum - 1.0) < 1e-3)
    assert(math.abs(v2.map(x => x * x).sum - 1.0) < 1e-3)
    val s1 = out.find(_.getAs[Long]("component") == 1L).get.getAs[Double]("var_share")
    val s2 = out.find(_.getAs[Long]("component") == 2L).get.getAs[Double]("var_share")
    assert(s1 >= s2 && s2 > 0, s"variance shares must be ordered: $s1, $s2")
  }

  test("agg_log2_histogram: bucket bounds are genuine powers of two") {
    val out = SparkEntry.queries("agg_log2_histogram")(spark, sf).collect()
    var total = 0L
    for (r <- out) {
      val b = r.getAs[Long]("bucket")
      val lo = 1L << b
      val hi = (1L << (b + 1)) - 1
      assert(r.getAs[Long]("min_c") >= lo && r.getAs[Long]("max_c") <= hi,
        s"bucket $b range [${r.getAs[Long]("min_c")}, ${r.getAs[Long]("max_c")}] outside [$lo, $hi]")
      total += r.getAs[Long]("n")
    }
    assert(total == Tables(spark, sf, "lineitem").count())
  }

  test("agg_hll_intersection: estimates within 5% of exact counts") {
    val r = SparkEntry.queries("agg_hll_intersection")(spark, sf).head()
    val ev = Tables.events(spark, sf)
    def users(t: String) = ev.filter(col("event_type") === t)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val (a, b) = (users("click"), users("purchase"))
    def within(est: Long, exact: Int) =
      math.abs(est - exact) <= math.max(1.0, 0.05 * exact)
    assert(within(r.getAs[Long]("est_a"), a.size))
    assert(within(r.getAs[Long]("est_b"), b.size))
    assert(within(r.getAs[Long]("est_union"), a.union(b).size))
    assert(within(r.getAs[Long]("est_intersect"), a.intersect(b).size))
  }
}
