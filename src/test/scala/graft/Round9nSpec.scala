package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 fourteenth wave: invariants stronger than the oracle hash alone. */
class Round9nSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sink_snapshot_vacuum: v2 intact after removal, exactly two files gone") {
    val r = SparkEntry.queries("sink_snapshot_vacuum")(spark, sf).head()
    assert(r.getAs[Long]("files_removed") == 2L,
      "both expired v1 files must be physically removed")
    val expect = Tables(spark, sf, "orders")
      .filter(col("o_orderstatus") =!= "P")
      .agg(count(lit(1)).as("n"),
           sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      .head()
    assert(r.getAs[Long]("n") == expect.getAs[Long]("n"))
    assert(r.getAs[Long]("cents") == expect.getAs[Long]("cents"))
    // the vacuumed scratch dir holds ONLY the v2 manifest and its file
    val latest = ScratchDirs.latestScratch("graft_vacuum")
    val left = ScratchDirs.listDir(latest).map(_.getFileName.toString).toSet
    assert(left == Set("v2.manifest", "compacted.parquet"),
      s"only live artifacts may survive the vacuum, found $left")
  }

  test("sink_snapshot_vacuum leaks no file descriptors") {
    // the manifest listing and the expired-file deletes open directory
    // streams on every run; each must be closed
    def run(): Unit = SparkEntry.queries("sink_snapshot_vacuum")(spark, sf).collect()
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    run() // warm-up: first-use class loading and Spark's own handles
    val before = openFds()
    (1 to 10).foreach(_ => run())
    val after = openFds()
    // a per-run leak shows as >= 10; allow a little incidental JVM churn
    assert(after - before < 5,
           s"10 vacuum runs grew the open descriptor count $before -> $after")
  }

  test("vec_pca_whiten_apply: deterministic, whitened coords near unit scale") {
    val q = SparkEntry.queries("vec_pca_whiten_apply")
    val out = q(spark, sf).collect()
    assert(out.nonEmpty)
    assert(q(spark, sf).collect().toSeq == out.toSeq, "bit-stable across runs")
    // whitened coordinates should be O(1): sample std in [0.2, 5]
    for (cn <- Seq("z1", "z2")) {
      val vs = out.map(_.getAs[Double](cn))
      val mean = vs.sum / vs.length
      val sd = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / vs.length)
      assert(sd > 0.2 && sd < 5.0, s"$cn sample std $sd outside sanity band")
    }
  }
}
