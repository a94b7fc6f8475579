package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, and session isolation between suites:
  * a suite that builds a `sqlSurface` session and releases it leaves
  * nothing of it (extensions, CBO, thread count) to the suites after it.
  */
class LocalSparkSpec extends AnyFunSuite {

  test("builder(n) is local[n] with the bench settings") {
    val spark = SharedSpark.fresh(LocalSpark.builder(3))
    try {
      assert(spark.sparkContext.master == "local[3]")
      val conf = Seq(
        "spark.sql.shuffle.partitions", "spark.sql.files.minPartitionNum",
        "spark.sql.icu.caseMappings.enabled", "spark.sql.session.timeZone",
        "spark.ui.enabled").map(k => k -> spark.conf.get(k)).toMap
      assert(conf == Map(
        "spark.sql.shuffle.partitions" -> "3",
        "spark.sql.files.minPartitionNum" -> "3",
        "spark.sql.icu.caseMappings.enabled" -> "false",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false"))
    } finally SharedSpark.release()
  }

  test("a released sqlSurface session leaves a plain SharedSpark session") {
    val surface = SharedSpark.fresh(
      LocalSpark.sqlSurface(Tables.scratchDir("graft_wh").toString, 2))
    assert(surface.catalog.functionExists("vec_dot"))
    assert(surface.conf.get("spark.sql.cbo.enabled") == "true")
    SharedSpark.release()

    val spark = new SharedSpark {}.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false")
    assert(!spark.catalog.functionExists("vec_dot"))
  }
}
