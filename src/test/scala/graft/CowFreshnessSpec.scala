package graft

import org.scalatest.funsuite.AnyFunSuite

/** Copy-on-write DML freshness: a reader that LISTED the table's files
  * before the mutation must see the new generation afterwards (the
  * round-11 MV-lifecycle work initially looked like this was broken;
  * this spec pins that it is not — refreshByPath + the swap keep
  * fresh path reads exact).
  */
class CowFreshnessSpec extends AnyFunSuite with SharedSpark {

  test("a pre-DML reader sees the post-DML generation on a fresh read") {
    val wh = Tables.scratchDir("graft_cow_fresh").toString
    spark.range(1000).selectExpr("id", "CAST(id % 5 AS STRING) AS g")
      .write.mode("overwrite").parquet(s"$wh/t")
    spark.read.parquet(s"$wh/t").createOrReplaceTempView("t")
    assert(spark.read.parquet(s"$wh/t").count() == 1000) // prime listings
    val res = graft.Sql.execute(spark, wh, "DELETE FROM t WHERE g = '0'")
    assert(res.collect()(0).getLong(0) == 800)
    assert(spark.read.parquet(s"$wh/t").count() == 800,
           "fresh path read must see the new generation")
  }

  test("copy-on-write UPDATEs leak no file descriptors") {
    // each mutation counts rows_after from the staged parquet footers; the
    // directory listing behind that count must be closed every time
    val wh = Tables.scratchDir("graft_cow_fds").toString
    spark.range(100).selectExpr("id", "CAST(0 AS BIGINT) AS v")
      .write.mode("overwrite").parquet(s"$wh/t")
    spark.read.parquet(s"$wh/t").createOrReplaceTempView("t")
    def update(): Unit =
      graft.Sql.execute(spark, wh, "UPDATE t SET v = v + 1").collect()
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    update() // warm-up: first-use class loading and Spark's own handles
    val before = openFds()
    (1 to 20).foreach(_ => update())
    val after = openFds()
    // a per-UPDATE leak shows as >= 20; allow a little incidental JVM churn
    assert(after - before < 5,
           s"20 UPDATEs grew the open descriptor count $before -> $after")
  }
}
