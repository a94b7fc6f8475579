package graft

import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape gates for the round-9 session waves — each pins the scale
  * property the operator's Scaladoc claims, so a regression that silently
  * re-plans into a corpus-killer fails here, not on a cluster.
  */
class Round9ScaleSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def sparkPlan(name: String) =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  test("ts_rolling_dau: sequence fan-out, never a range join") {
    val p = sparkPlan("ts_rolling_dau")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
           p.collect { case j: CartesianProductExec => j }.isEmpty,
      s"rolling DAU must not plan a nested-loop range join:\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"anchor membership must be a broadcast hash join:\n$p")
    assert(p.toString.contains("Generate explode"),
      "the 24x expansion must be the generated sequence")
  }

  test("sample_reservoir_perkey runs the native TopKPerKey, not a window sort") {
    val p = SparkEntry.queries("sample_reservoir_perkey")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"native operator missing:\n$p")
    assert(!p.contains("Window"), s"no window sort expected:\n$p")
  }

  test("assoc rules: supports broadcast onto the top-10, ranked via bounded top-k") {
    val p = SparkEntry.queries("agg_assoc_rules")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be a bounded heap, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"per-part supports must broadcast onto the 10 survivors:\n$p")
  }

  test("scan-parallel statistics keys broadcast their bounded extremes") {
    for (name <- Seq("window_minmax_scale", "ts_seasonal_hourofday",
                     "agg_winsorized_mean", "agg_percentile_disc")) {
      val p = sparkPlan(name)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$name: group stats must broadcast back over the scan:\n$p")
    }
  }

  test("profile_column_stats reads lineitem exactly once") {
    val p = sparkPlan("profile_column_stats").toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"profiler must be a single scan, found $scans:\n$p")
  }

  test("cdc_snapshot_diff: one full-outer shuffle join of two scans") {
    val p = sparkPlan("cdc_snapshot_diff").toString
    assert(p.contains("FullOuter"), s"full outer join expected:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"exactly the two version scans expected, found $scans")
  }
}
