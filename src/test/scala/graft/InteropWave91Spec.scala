package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-91 invariants: the registered Luhn UDF agrees with a direct
  * in-memory fold over known vectors and the fixture rows; the
  * registered Aggregator equals the built-in relational Σc².
  */
class InteropWave91Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("luhn validity matches known vectors and partitions all rows") {
    // classical known-good/known-bad checksums
    assert(graft.operators.Interop.luhnValid("4539578763621486"))
    assert(graft.operators.Interop.luhnValid("79927398713"))
    assert(!graft.operators.Interop.luhnValid("79927398714"))
    val rows = SparkEntry.queries("udf_scalar_registered")(spark, sf)
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val total = Tables.events(spark, sf).count()
    assert(rows.values.sum == total, "verdicts must partition every row")
    assert(rows.keySet == Set(true, false),
           "minted accounts must hit both verdicts")
  }

  test("registered Aggregator equals the built-in sum of squares") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("udf_aggregator_registered")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("bigint").as("c"))
      .groupBy("event_type")
      .agg(sum(col("c") * col("c")).as("ssq"), count(lit(1)).as("n"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }
}
