package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 third wave (data-quality family + sampling + ts diagnostics):
  * invariants stronger than the oracle hash alone.
  */
class Round9cSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("profile_column_stats agrees with directly-computed ground truth") {
    val out = SparkEntry.queries("profile_column_stats")(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out.keySet == Set("l_orderkey", "l_partkey", "l_quantity",
      "l_extendedprice", "l_returnflag", "l_shipdate"))
    val li = Tables(spark, sf, "lineitem")
    val n = li.count()
    assert(out.values.forall(_.getAs[Long]("n_rows") == n))
    val okNdv = li.select("l_orderkey").distinct().count()
    assert(out("l_orderkey").getAs[Long]("n_distinct") == okNdv)
    assert(out("l_returnflag").getAs[Long]("n_distinct") == 3)
    assert(out("l_returnflag").isNullAt(out("l_returnflag").fieldIndex("min_v")))
    // NDV never exceeds row count; min ≤ max where present
    assert(out.values.forall(_.getAs[Long]("n_distinct") <= n))
    assert(out.values.filter(!_.isNullAt(3)).forall(r =>
      r.getAs[Long]("min_v") <= r.getAs[Long]("max_v")))
  }

  test("quality_fk_orphans: intact edges are clean, partial snapshot is not") {
    val out = SparkEntry.queries("quality_fk_orphans")(spark, sf).collect()
      .map(r => r.getAs[String]("edge") -> r).toMap
    assert(out.size == 5)
    // all real FK edges in the fixtures are intact
    for (e <- Seq("lineitem->orders", "orders->customer",
                  "customer->nation", "supplier->nation"))
      assert(out(e).getAs[Long]("n_orphans") == 0L, s"edge $e should be intact")
    // the deliberately partial parent snapshot must show orphans
    val partial = out("lineitem->orders[F]")
    assert(partial.getAs[Long]("n_orphans") > 0L)
    assert(partial.getAs[Long]("n_orphans") < partial.getAs[Long]("n_child"))
  }

  test("quality_constraint_report exercises both verdicts with exact counts") {
    val out = SparkEntry.queries("quality_constraint_report")(spark, sf).collect()
      .map(r => r.getAs[String]("constraint_name") -> r).toMap
    assert(out.size == 5)
    // passing constraints: unique key, domain, no-null
    assert(out("orders.o_orderkey UNIQUE").getAs[Long]("n_violations") == 0L)
    assert(out("orders.o_orderkey UNIQUE").getAs[Long]("passed") == 1L)
    assert(out("lineitem.l_extendedprice NOT NULL").getAs[Long]("passed") == 1L)
    // the deliberately tight discount range must fail with the exact count
    val disc = out("lineitem.l_discount IN [0,0.05]")
    val expect = Tables(spark, sf, "lineitem")
      .filter(col("l_discount") < 0 || col("l_discount") > 0.05).count()
    assert(expect > 0, "fixture must contain discounts above 0.05")
    assert(disc.getAs[Long]("n_violations") == expect)
    assert(disc.getAs[Long]("passed") == 0L)
  }

  test("sample_reservoir_perkey: exactly k per key, deterministic, uniform-ish") {
    val q = SparkEntry.queries("sample_reservoir_perkey")
    val out = q(spark, sf).collect()
    val byKey = out.groupBy(_.getAs[String]("o_orderpriority"))
    val nPrio = Tables(spark, sf, "orders")
      .select("o_orderpriority").distinct().count()
    assert(byKey.size == nPrio)
    assert(byKey.values.forall(_.length == 4), "exactly k=4 rows per key")
    // deterministic across runs
    assert(q(spark, sf).collect().toSeq == out.toSeq)
    // each sampled row's ticket really is minimal for its key: re-deriving
    // the 4 smallest tickets per key from scratch must agree
    val expect = Tables(spark, sf, "orders")
      .withColumn("ticket", md5(concat(lit("rsv"), col("o_orderkey").cast("string"))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority")
          .orderBy(col("ticket").asc, col("o_orderkey").asc)))
      .filter(col("rn") <= 4)
      .select("o_orderpriority", "o_orderkey", "ticket")
      .orderBy("o_orderpriority", "ticket", "o_orderkey")
      .collect()
    assert(out.toSeq == expect.toSeq)
  }

  test("ts_seasonal_hourofday: one peak per type, exact deviation argmax") {
    val out = SparkEntry.queries("ts_seasonal_hourofday")(spark, sf).collect()
    val byType = out.groupBy(_.getAs[String]("event_type"))
    for ((_, rows) <- byType) {
      assert(rows.count(_.getAs[Long]("is_peak") == 1L) == 1,
        "exactly one peak hour per event type")
      val peak = rows.find(_.getAs[Long]("is_peak") == 1L).get
      assert(rows.forall(r => r.getAs[Long]("dev_x") < peak.getAs[Long]("dev_x") ||
        (r.getAs[Long]("dev_x") == peak.getAs[Long]("dev_x") &&
         r.getAs[Long]("hod") <= peak.getAs[Long]("hod"))),
        "peak carries the maximal deviation (ties to the largest hod by struct max)")
    }
  }

  test("ts_crosscorr_lagged emits all five lags with |r| <= 1") {
    val out = SparkEntry.queries("ts_crosscorr_lagged")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("lag")).toSeq == Seq(-2L, -1L, 0L, 1L, 2L))
    assert(out.forall(r => math.abs(r.getAs[Double]("r")) <= 1.0 + 1e-9))
    assert(out.forall(_.getAs[Long]("n") > 5))
  }
}
